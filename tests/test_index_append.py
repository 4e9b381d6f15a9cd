"""Incremental index maintenance: appended docs become searchable in the
LIVE index with exact match/score parity; updated docs supersede their old
version; compaction folds deltas without changing results.

Reference contract: daily-update docs land in the live OpenSearch index
(OpenSearchIAViewUpdateRepository.cs:32-70)."""

import math
from pathlib import Path

import pytest

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
    OracleIndex,
    build_oracle_doc,
)
from ds_discovery_opensearch_taxonomy_spark.operators.search import run_categories
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    load_categories,
    synthesize_corpus,
    with_doc_ids,
)

TEST_CONFIG = EngineConfig(
    n_term_buckets=4,
    salt_target_postings=64,
    max_salts=8,
    n_eval_bands=2,
)

N_BASE = 300
N_FULL = 400

QUERIES = [
    ("Q_BOOL", '"women" AND "suffrage" NOT "chartism"'),
    ("Q_PHRASE", '"votes for women"'),
    ("Q_WILD", "suffrag* OR ration*"),
    ("Q_RANGE", "women AND SOURCE:[0 TO 60]"),
    ("Q_FUZZY", "sufrage~1"),
]


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("index_append")
    # synthesize_corpus is deterministic in the row index, so n=300 IS the
    # first 300 rows of n=400 — the appended slice is exactly rows 300-399
    base = with_doc_ids(synthesize_corpus(spark, N_BASE))
    full = with_doc_ids(synthesize_corpus(spark, N_FULL))
    build_index(spark, base, str(out), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out), TEST_CONFIG)
    extra = full.join(base.select("doc_id"), "doc_id", "left_anti")
    m1 = eng.append_docs(extra, batch_key="b1", auto_compact=False)
    assert m1 is not None and m1["n_docs"] == N_FULL - N_BASE
    rows = [r.asDict() for r in full.collect()]
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, TEST_CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in rows
        ],
        TEST_CONFIG,
    )
    return eng, oracle, rows


def _parity(spark, eng, oracle, queries, scored, top_k=None):
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    results = run_categories(
        spark, eng.reader, queries, scored=scored, top_k=top_k
    ).collect()
    got: dict[str, dict[int, float]] = {}
    for r in results:
        got.setdefault(r["category_id"], {})[r["doc_id"]] = r["score"]
    for cid, qtext in queries:
        node = parse_query(qtext, TEST_CONFIG)
        expected = oracle.matching_docs(node)
        if top_k is not None:
            expected = expected[:top_k]
        expected = dict(expected)
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


def test_appended_docs_score_parity(appended, spark):
    """After a pure append, match sets AND BM25 scores over the live index
    equal the oracle over the FULL corpus — df, n_docs and avgdl all fold
    the appended docs in."""
    eng, oracle, _ = appended
    _parity(spark, eng, oracle, QUERIES, scored=True)


def test_appended_docs_topk_parity(appended, spark):
    """Top-k with block-max pruning stays exact under appended generations
    (norm-safety factor covers the avgdl drift since block encode)."""
    eng, oracle, _ = appended
    _parity(spark, eng, oracle, QUERIES, scored=True, top_k=5)


def test_appended_reference_categories(appended, spark):
    """A representative slice of the real 136-category fixture is exact
    over the appended index."""
    eng, oracle, _ = appended
    cats = load_categories()
    chosen = [
        (c["category_id"], c["query_text"])
        for c in cats
        if c["title"] in ("Air Force", "Votes for women", "Rationing")
    ]
    _parity(spark, eng, oracle, chosen, scored=True)


def test_append_replay_is_noop(appended, spark):
    eng, _, _ = appended
    extra = with_doc_ids(synthesize_corpus(spark, N_FULL)).limit(5)
    assert eng.append_docs(extra, batch_key="b1", auto_compact=False) is None
    assert eng.reader.docs().count() == N_FULL


def test_live_stats_updated(appended):
    eng, _, _ = appended
    assert eng.reader.n_docs == N_FULL
    assert all(f >= 1.0 for f in eng.reader.norm_safety.values())


def test_update_supersedes_old_version(spark, tmp_path_factory):
    """Re-ingesting an existing doc_id tombstones the old ordinal: the old
    content stops matching, the new content matches, and the doc appears
    exactly once in the live docs view."""
    out = tmp_path_factory.mktemp("index_update")
    base = with_doc_ids(synthesize_corpus(spark, 60))
    build_index(spark, base, str(out), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out), TEST_CONFIG)
    row = base.orderBy("doc_id").limit(1).collect()[0].asDict()
    updated = dict(row, content="zanzibar expedition quarterly ledger")
    upd_df = with_doc_ids(
        spark.createDataFrame(
            [
                (
                    updated["repo"], updated["path"], updated["commit"],
                    updated["lang"], updated["content"],
                )
            ],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    assert upd_df.first()["doc_id"] == row["doc_id"]  # same identity
    m = eng.append_docs(upd_df, batch_key="upd", auto_compact=False)
    assert m is not None
    # new content matches
    res = run_categories(
        spark, eng.reader, [("NEW", '"zanzibar" AND "ledger"')], scored=False
    ).collect()
    assert [r["doc_id"] for r in res] == [row["doc_id"]]
    # old content no longer matches: use a phrase from the old content
    words = row["content"].split()
    old_phrase = " ".join(words[:3])
    res_old = run_categories(
        spark, eng.reader, [("OLD", f'"{old_phrase}"')], scored=False
    ).collect()
    assert row["doc_id"] not in {r["doc_id"] for r in res_old}
    # exactly one live version
    assert (
        eng.reader.docs().where(f"doc_id = {row['doc_id']}").count() == 1
    )
    assert eng.reader.docs().count() == 60
    # update arrives via categorise_all too (A1: every live doc seeded)
    assert eng.categorise_all().count() == 60


def test_compaction_preserves_results(appended, spark, tmp_path):
    """compact() folds every delta into generation-versioned main tables:
    same match/score results, no delta batches left, delta dirs gone."""
    src, oracle, _ = appended
    root = _copy_index(src.reader.cat.root, tmp_path / "idx")
    eng = TaxonomyEngine(spark, str(root), TEST_CONFIG)
    before = {
        (r["category_id"], r["doc_id"]): r["score"]
        for r in run_categories(spark, eng.reader, QUERIES, scored=True).collect()
    }
    out = eng.compact()
    assert out is not None and out["batches_compacted"] >= 1
    assert not eng.reader.cat.deltas()
    assert not (eng.reader.cat.root / "delta").exists() or not any(
        (eng.reader.cat.root / "delta").rglob("*.parquet")
    )
    after = {
        (r["category_id"], r["doc_id"]): r["score"]
        for r in run_categories(spark, eng.reader, QUERIES, scored=True).collect()
    }
    assert before == after
    # still exact vs the oracle, and a further append still works
    _parity(spark, eng, oracle, QUERIES[:2], scored=True)
    assert eng.compact() is None  # nothing left to compact


def test_alignment_guard_rejects_partition_drift(spark):
    """The dense-ord contract guard: a pass observing different
    per-partition counts than the offsets pass fails LOUDLY instead of
    silently mis-assigning ords (VERDICT r2 item 5)."""
    from pyspark.errors.exceptions.captured import PythonException

    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        attach_ords,
    )

    df = spark.range(0, 100, 1, 4).selectExpr("id as doc_id")
    ok = attach_ords(df, [0, 25, 50, 75], expected=[25, 25, 25, 25])
    assert ok.count() == 100
    bad = attach_ords(df, [0, 25, 50, 75], expected=[30, 20, 25, 25])
    with pytest.raises(PythonException, match="partition"):
        bad.count()


def test_append_compact_append_chain(spark, tmp_path_factory):
    """The decode order must stay exact across a compaction boundary:
    compaction renumbers the folded batches' delta salts densely into the
    compacted range [2^16, 2^20) and RESETS the batch-seq counter in the
    same atomic commit, so a post-compaction append's fresh seq-0 salt
    (2^20) is again above every salt in the main table."""
    out = tmp_path_factory.mktemp("chain")
    full = with_doc_ids(synthesize_corpus(spark, 240))
    b0 = with_doc_ids(synthesize_corpus(spark, 120))
    b1 = full.join(b0.select("doc_id"), "doc_id", "left_anti").where(
        F_col_mod(full) == 0
    )
    b2 = full.join(b0.select("doc_id"), "doc_id", "left_anti").where(
        F_col_mod(full) == 1
    )
    build_index(spark, b0, str(out), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out), TEST_CONFIG)
    assert eng.append_docs(b1, batch_key="c1", auto_compact=False) is not None
    assert eng.reader.cat.next_delta_seq() == 1
    assert eng.compact() is not None
    # the seq counter reset with the salt renumber (atomic manifest write)
    assert eng.reader.cat.next_delta_seq() == 0
    assert int(eng.reader.cat.get_meta("compacted_salts")) == 1
    # the folded batch's postings now sit in the dense compacted salt range
    from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
        COMPACTED_SALT_BASE,
        DELTA_SALT_BASE,
    )

    salts = [
        int(r["salt"])
        for r in eng.reader.postings()
        .select("salt").distinct().collect()
    ]
    assert COMPACTED_SALT_BASE in salts
    assert not [s for s in salts if s >= DELTA_SALT_BASE]
    # compaction must not erase the idempotency ledger: a replayed
    # batch_key stays a no-op even after its delta was folded into main
    assert eng.append_docs(b1, batch_key="c1", auto_compact=False) is None
    assert eng.append_docs(b2, batch_key="c2", auto_compact=False) is not None
    rows = [r.asDict() for r in full.collect()]
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, TEST_CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in rows
        ],
        TEST_CONFIG,
    )
    _parity(spark, eng, oracle, QUERIES[:3], scored=True)
    assert eng.reader.docs().count() == 240
    # compact once more and stay exact: the second generation lands in the
    # next dense slot, previously compacted salts keep theirs
    assert eng.compact() is not None
    assert int(eng.reader.cat.get_meta("compacted_salts")) == 2
    assert eng.reader.cat.next_delta_seq() == 0
    salts = [
        int(r["salt"])
        for r in eng.reader.postings().select("salt").distinct().collect()
    ]
    assert {COMPACTED_SALT_BASE, COMPACTED_SALT_BASE + 1} <= set(salts)
    assert not [s for s in salts if s >= DELTA_SALT_BASE]
    _parity(spark, eng, oracle, QUERIES[:3], scored=True)


def F_col_mod(df):
    from pyspark.sql import functions as F

    return F.pmod(F.col("doc_id"), F.lit(2))


def test_streaming_updates_live_index(spark, tmp_path_factory):
    """start_incremental(update_index=True): docs arriving on the stream
    become searchable in the persistent index (the round-2 gap: streamed
    docs were categorised but invisible to later search())."""
    import time

    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        start_incremental,
    )

    out = tmp_path_factory.mktemp("stream_idx")
    base = with_doc_ids(synthesize_corpus(spark, 80))
    build_index(spark, base, str(out / "idx"), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out / "idx"), TEST_CONFIG)
    # stream source: one parquet file of new docs with novel content
    new = spark.createDataFrame(
        [
            ("orgX/repoX", f"p/new{i}", f"cafe{i:036x}", "python",
             "quetzalcoatl archive shipment ledger entry")
            for i in range(7)
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    src = out / "incoming"
    new.write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(new.schema).parquet(str(src))
    q = start_incremental(eng, stream, str(out / "ckpt"), update_index=True)
    q.awaitTermination(120)
    # streamed docs are now searchable in the LIVE index
    res = run_categories(
        spark, eng.reader, [("S", '"quetzalcoatl" AND "ledger"')], scored=False
    ).collect()
    assert len(res) == 7
    assert eng.reader.docs().count() == 87
    # and their results were merged into the results table too
    got = {r["doc_id"] for r in eng.results().collect()}
    assert len(got) == 7  # the stream categorised exactly the new docs


def test_stream_payload_survives_refresh_invalidates_on_category_edit(
    spark, tmp_path_factory
):
    """The micro-batch compile payload is index-state-INDEPENDENT (bool
    mode never reads df/N/avgdl; wildcard/range/fuzzy re-expand against the
    batch vocabulary from their kept ``source`` nodes), so the per-batch
    index append's ``engine.refresh()`` must NOT recompile it — dropping it
    there cost ~7-8 s of recompilation per daily micro-batch at 136
    categories.  Only a category or config edit may invalidate."""
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        _batch_payload,
    )

    out = tmp_path_factory.mktemp("payload")
    base = with_doc_ids(synthesize_corpus(spark, 40))
    build_index(spark, base, str(out / "idx"), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out / "idx"), TEST_CONFIG)
    eng.set_categories(
        [{"category_id": "C1", "title": "W", "query_text": '"women" AND suffrag*'}]
    )
    p1 = _batch_payload(eng)
    eng.refresh()
    assert _batch_payload(eng) is p1  # survives index refresh
    # an appended batch categorises correctly off the cached payload: the
    # wildcard expands against the BATCH vocabulary, not the stale compile
    rows = [{"doc_id": 1, "content": "women suffragette march"}]
    cats = eng.categorise_docs(rows)
    assert [c["category_id"] for c in cats[0]["categories"]] == ["C1"]
    # category edit -> rebuilt payload
    eng.set_categories(
        [{"category_id": "C2", "title": "X", "query_text": '"ration"'}]
    )
    p2 = _batch_payload(eng)
    assert p2 is not p1
    # unchanged categories -> the rebuilt payload is then stable again
    assert _batch_payload(eng) is p2


def test_next_ord_commit_is_atomic_and_self_repairing(spark, tmp_path_factory):
    """A committed append advances next_ord in the SAME manifest write
    (commit_delta), and a manifest left by the OLD two-write protocol
    (batch committed, next_ord stale) self-repairs: the next append derives
    the cursor from the committed deltas instead of reusing the committed
    batch's ord range (duplicate ordinals -> wrong doc_id decode)."""
    import json

    out = tmp_path_factory.mktemp("atomic_ord")
    base = with_doc_ids(synthesize_corpus(spark, 120))
    full = with_doc_ids(synthesize_corpus(spark, 200))
    build_index(spark, base, str(out), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out), TEST_CONFIG)
    extra = full.join(base.select("doc_id"), "doc_id", "left_anti")
    b1 = extra.where(F_col_mod(extra) == 0)
    b2 = extra.where(F_col_mod(extra) == 1)
    m1 = eng.append_docs(b1, batch_key="a1", auto_compact=False)
    assert m1 is not None
    # next_ord landed in the commit itself
    assert eng.reader.cat.get_meta("next_ord") == m1["base_ord"] + m1["n_docs"]
    # simulate the OLD crash window: commit present, next_ord stale
    mp = out / "manifest.json"
    m = json.loads(mp.read_text())
    m["meta"]["next_ord"] = 120
    mp.write_text(json.dumps(m))
    m2 = eng.append_docs(b2, batch_key="a2", auto_compact=False)
    assert m2 is not None
    # the second batch's ord range starts ABOVE the first (no reuse)
    assert m2["base_ord"] >= m1["base_ord"] + m1["n_docs"]
    rows = [r.asDict() for r in full.collect()]
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, TEST_CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in rows
        ],
        TEST_CONFIG,
    )
    _parity(spark, eng, oracle, QUERIES[:3], scored=True)


def test_compaction_remaps_arbitrary_salt_domains(spark, tmp_path_factory):
    """The remap domain is derived from the DATA (distinct salts >= 2^16
    in the view), not assumed dense-from-base — so any seq drift
    renumbers correctly.  Emulated by starting the seq counter at 5: the
    folded salts are high and non-dense, and must land at the dense base
    with the counter reset."""
    from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
        COMPACTED_SALT_BASE,
        DELTA_SALT_BASE,
        delta_salt,
    )

    out = tmp_path_factory.mktemp("salt_domain")
    full = with_doc_ids(synthesize_corpus(spark, 160))
    b0 = with_doc_ids(synthesize_corpus(spark, 80))
    b1 = full.join(b0.select("doc_id"), "doc_id", "left_anti")
    build_index(spark, b0, str(out), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out), TEST_CONFIG)
    eng.reader.cat.set_meta("next_delta_seq", 5)
    m1 = eng.append_docs(b1, batch_key="drift", auto_compact=False)
    assert m1 is not None and m1["seq"] == 5
    salts = {
        int(r["salt"])
        for r in eng.reader.postings().select("salt").distinct().collect()
    }
    assert delta_salt(5) in salts
    assert eng.compact() is not None
    assert eng.reader.cat.next_delta_seq() == 0
    salts = {
        int(r["salt"])
        for r in eng.reader.postings().select("salt").distinct().collect()
    }
    assert COMPACTED_SALT_BASE in salts
    assert not {s for s in salts if s >= DELTA_SALT_BASE}
    rows = [r.asDict() for r in full.collect()]
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, TEST_CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in rows
        ],
        TEST_CONFIG,
    )
    _parity(spark, eng, oracle, QUERIES[:3], scored=True)


def test_delta_salt_exhaustion_fails_loudly(spark, tmp_path_factory):
    """Batch seqs past the int32 salt headroom must raise (a wrapped salt
    would silently corrupt the global decode order), directing to a
    rebuild."""
    from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
        MAX_DELTA_SEQ,
        delta_salt,
    )

    assert delta_salt(MAX_DELTA_SEQ) <= (1 << 31) - 1
    with pytest.raises(RuntimeError, match="rebuild"):
        delta_salt(MAX_DELTA_SEQ + 1)
    out = tmp_path_factory.mktemp("salt_exhaust")
    base = with_doc_ids(synthesize_corpus(spark, 40))
    build_index(spark, base, str(out), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out), TEST_CONFIG)
    eng.reader.cat.set_meta("next_delta_seq", MAX_DELTA_SEQ + 1)
    extra = with_doc_ids(synthesize_corpus(spark, 41)).where("doc_id >= 40")
    with pytest.raises(RuntimeError, match="rebuild"):
        eng.append_docs(extra, batch_key="overflow", auto_compact=False)


@pytest.fixture(scope="module")
def default_index(spark, tmp_path_factory):
    """A small index built with the DEFAULT config."""
    out = tmp_path_factory.mktemp("default_cfg") / "idx"
    build_index(spark, with_doc_ids(synthesize_corpus(spark, 60)), str(out))
    return out


def test_reader_tables_of_a_no_delta_index_start_no_spark_job(
    spark, default_index, monkeypatch
):
    """IndexReader reads its four tables through the live views, whose
    explicit schemas spare Spark a footer-inference job per table, deltas
    or not.  Each reads the same rows as a schema-inferring read."""
    from ds_discovery_opensearch_taxonomy_spark.operators import search

    monkeypatch.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", -1)
    reader = search.IndexReader(spark, str(default_index))
    assert not reader.cat.deltas() and reader.snapshot() is None
    first = _last_job(spark)
    frames = {
        IndexCatalog.DICTIONARY: reader.dictionary(),
        IndexCatalog.POSTINGS: reader.postings(),
        IndexCatalog.DOCS: reader.docs(),
        IndexCatalog.DOCMAP: reader.docmap(),
    }
    assert _last_job(spark) == first
    for table, df in frames.items():
        inferred = spark.read.parquet(reader.cat.path(table))
        assert sorted(df.columns) == sorted(inferred.columns), table
        want = sorted(map(tuple, inferred.collect()), key=repr)
        got = sorted(map(tuple, df.select(*inferred.columns).collect()), key=repr)
        assert want and got == want, table
    reader.unpersist()


def test_build_writes_every_key_readers_and_appends_require(default_index):
    """The format gate promises these keys; a build that stops writing one
    must fail here, not at the first append to a customer's index."""
    from ds_discovery_opensearch_taxonomy_spark.sources.catalog import (
        INDEX_FORMAT_VERSION,
        IndexCatalog,
    )

    m = IndexCatalog(default_index).manifest()
    assert m["meta"]["format"] == INDEX_FORMAT_VERSION
    for key in ("band_bits", "ord_bits", "encode_avgdl", "postings_attempts"):
        assert m["meta"].get(key) is not None, key
    staging = m["stages"]["staging"]["metrics"]
    assert staging["sum_dl"] and staging["attempts"]


@pytest.mark.parametrize("entry", ["open", "append"])
@pytest.mark.parametrize("found", [None, 5], ids=["format_missing", "format_5"])
def test_old_format_index_is_refused(spark, default_index, tmp_path, found, entry):
    """An index whose meta.format is missing or older is never read: both
    the engine open and append_batch refuse it, naming the version found
    and the version required."""
    import json
    import shutil

    from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
        append_batch,
    )
    from ds_discovery_opensearch_taxonomy_spark.sources.catalog import (
        INDEX_FORMAT_VERSION,
        IndexCatalog,
    )

    out = tmp_path / "old"
    shutil.copytree(default_index, out)
    mp = out / "manifest.json"
    m = json.loads(mp.read_text())
    if found is None:
        del m["meta"]["format"]
    else:
        m["meta"]["format"] = found
    mp.write_text(json.dumps(m))
    with pytest.raises(RuntimeError) as err:
        if entry == "open":
            TaxonomyEngine(spark, str(out))
        else:
            batch = with_doc_ids(synthesize_corpus(spark, 3))
            append_batch(spark, IndexCatalog(out), EngineConfig(), batch, "old")
    msg = str(err.value)
    assert f"format {'<missing>' if found is None else found}," in msg
    assert f"format {INDEX_FORMAT_VERSION} " in msg
    assert "rebuild" in msg
    # refused before anything was written
    assert json.loads(mp.read_text()) == m


def test_auto_compaction_triggers_at_threshold(spark, tmp_path_factory):
    """maybe_compact (the Lucene segment-merge-trigger analogue) fires once
    the configured delta-batch count accumulates, folds the deltas, and
    results stay exact across the automatic boundary."""
    import dataclasses

    out = tmp_path_factory.mktemp("autocompact")
    cfg = dataclasses.replace(
        TEST_CONFIG, compact_after_batches=3, compact_after_delta_ratio=None
    )
    full = with_doc_ids(synthesize_corpus(spark, 160))
    base = with_doc_ids(synthesize_corpus(spark, 100))
    extra = full.join(base.select("doc_id"), "doc_id", "left_anti").limit(60)
    chunks = [
        extra.where(F_col_mod3(extra) == i).persist() for i in range(3)
    ]
    build_index(spark, base, str(out), cfg)
    eng = TaxonomyEngine(spark, str(out), cfg)

    assert eng.append_docs(chunks[0], batch_key="a0", auto_compact=False) is not None
    assert eng.maybe_compact() is None  # 1 delta < threshold
    assert eng.append_docs(chunks[1], batch_key="a1", auto_compact=False) is not None
    assert eng.maybe_compact() is None  # 2 deltas < threshold
    assert eng.append_docs(chunks[2], batch_key="a2", auto_compact=False) is not None
    compacted = eng.maybe_compact()  # 3 deltas -> automatic compact
    assert compacted is not None and compacted["batches_compacted"] == 3
    assert not eng.reader.cat.deltas()

    # byte threshold path: tiny limit trips after ONE more append
    cfg_b = dataclasses.replace(
        TEST_CONFIG,
        compact_after_batches=99,
        compact_after_delta_bytes=1,
        compact_after_delta_ratio=None,
    )
    eng_b = TaxonomyEngine(spark, str(out), cfg_b)
    # materialize BEFORE appending: compaction GCs the docs generation this
    # lazy plan would otherwise re-read
    more_rows = [
        r.asDict()
        for r in with_doc_ids(synthesize_corpus(spark, 170))
        .join(eng_b.reader.docs().select("doc_id"), "doc_id", "left_anti")
        .limit(5)
        .collect()
    ]
    more = spark.createDataFrame(more_rows)
    assert eng_b.append_docs(more, batch_key="b0", auto_compact=False) is not None
    assert eng_b.maybe_compact() is not None
    assert not eng_b.reader.cat.deltas()

    # and the compacted index still matches the independent oracle
    docs = eng_b.reader.docs().count()
    live = {
        r["doc_id"]
        for r in eng_b.reader.docs().select("doc_id").collect()
    }
    n_rows = [r.asDict() for r in full.collect() if r["doc_id"] in live] + [
        r for r in more_rows if r["doc_id"] in live
    ]
    assert docs == len(n_rows)
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, TEST_CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in n_rows
        ],
        TEST_CONFIG,
    )
    _parity(spark, eng_b, oracle, QUERIES[:2], scored=True)
    for c in chunks:
        c.unpersist()


def F_col_mod3(df):
    from pyspark.sql import functions as F

    return F.pmod(F.col("doc_id"), F.lit(3))


def test_reader_open_prunes_zombie_attempt_files(spark, tmp_path_factory):
    """Cluster-speculation defense-in-depth: the build persists the
    committed (pid -> attempt) maps for both direct-write tables, and
    IndexReader open re-prunes any file those maps don't know — a zombie
    speculative attempt can os.rename its output AFTER the post-job sweep,
    and an unpruned duplicate would silently double posting blocks at
    decode.  Compaction must flip the map with the generation pointer."""
    from pathlib import Path

    out = tmp_path_factory.mktemp("zombie")
    base = with_doc_ids(synthesize_corpus(spark, 120))
    build_index(spark, base, str(out / "idx"), TEST_CONFIG)
    eng = TaxonomyEngine(spark, str(out / "idx"), TEST_CONFIG)
    cat = eng.reader.cat
    # the maps were persisted at build
    post_atts = cat.get_meta("postings_attempts")
    stg_atts = (
        cat.manifest()["stages"]["staging"]["metrics"].get("attempts")
    )
    assert post_atts and stg_atts
    before = run_categories(spark, eng.reader, QUERIES[:2], scored=True).collect()
    # plant zombies: same pid as a committed file, different attempt
    bdirs = sorted(Path(cat.path("postings")).glob("bucket=*"))
    victim = next(f for d in bdirs for f in sorted(d.glob("part-*.parquet")))
    pid = victim.stem.split("-")[1]
    zombie_post = victim.parent / f"part-{pid}-999.parquet"
    zombie_post.write_bytes(victim.read_bytes())
    stg_file = next(Path(cat.path("staging")).glob("part-*.parquet"))
    zombie_stg = stg_file.parent / f"part-{stg_file.stem.split('-')[1]}-999.parquet"
    zombie_stg.write_bytes(stg_file.read_bytes())
    # reader open prunes both and results are unchanged
    eng.refresh()
    assert not zombie_post.exists()
    assert not zombie_stg.exists()
    after = run_categories(spark, eng.reader, QUERIES[:2], scored=True).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # compaction: the new generation's map commits with the gen pointer
    eng.append_docs(
        with_doc_ids(synthesize_corpus(spark, 130)).join(
            eng.reader.docs().select("doc_id"), "doc_id", "left_anti"
        ),
        "zb-1",
        auto_compact=False,
    )
    assert eng.compact() is not None
    cat2 = eng.reader.cat
    atts2 = cat2.get_meta("postings_attempts")
    assert atts2 is not None
    gen_dir = Path(cat2.path("postings"))
    assert "__g" in gen_dir.name
    pids_on_disk = {
        int(f.stem.split("-")[1])
        for d in gen_dir.glob("bucket=*")
        for f in d.glob("part-*.parquet")
    }
    assert pids_on_disk == {int(k) for k in atts2}


def test_append_docs_api_auto_compacts(spark, tmp_path_factory):
    """The PUBLIC API append path runs the auto-compaction policy itself
    (round-4 review: only the streaming and CLI paths compacted, so an
    API-driven daily-update loop accumulated unbounded deltas).  Count
    trigger: the Nth ``append_docs`` folds every delta inside the same
    call and reports it in the returned metrics.  Ratio trigger: one
    append big relative to the main postings bytes compacts immediately
    even at batch count 1 (the scale-free byte trigger,
    config.compact_after_delta_ratio)."""
    import dataclasses

    from pyspark.sql import functions as F

    out = tmp_path_factory.mktemp("api_autocompact")
    cfg = dataclasses.replace(
        TEST_CONFIG, compact_after_batches=2, compact_after_delta_ratio=None
    )
    full = with_doc_ids(synthesize_corpus(spark, 160))
    base = with_doc_ids(synthesize_corpus(spark, 100))
    extra = full.join(base.select("doc_id"), "doc_id", "left_anti").limit(40)
    chunks = [
        extra.where(F.pmod(F.col("doc_id"), F.lit(2)) == i).persist()
        for i in range(2)
    ]
    build_index(spark, base, str(out), cfg)
    eng = TaxonomyEngine(spark, str(out), cfg)
    m0 = eng.append_docs(chunks[0], batch_key="a0")
    assert m0 is not None and "compacted" not in m0
    assert len(eng.reader.cat.deltas()) == 1
    m1 = eng.append_docs(chunks[1], batch_key="a1")
    assert m1 is not None and m1["compacted"]["batches_compacted"] == 2
    assert not eng.reader.cat.deltas()

    # ratio trigger: batch-count threshold far away, tiny ratio -> the
    # very next append folds itself
    cfg_r = dataclasses.replace(
        TEST_CONFIG, compact_after_batches=99, compact_after_delta_ratio=0.01
    )
    eng_r = TaxonomyEngine(spark, str(out), cfg_r)
    more_rows = [
        r.asDict()
        for r in with_doc_ids(synthesize_corpus(spark, 200))
        .join(eng_r.reader.docs().select("doc_id"), "doc_id", "left_anti")
        .limit(30)
        .collect()
    ]
    m2 = eng_r.append_docs(spark.createDataFrame(more_rows), batch_key="r0")
    assert m2 is not None and "compacted" in m2
    assert not eng_r.reader.cat.deltas()

    # and the auto-compacted live view still matches the independent oracle
    live_ids = {r["doc_id"] for r in eng_r.reader.docs().collect()}
    rows = [
        r.asDict()
        for r in with_doc_ids(synthesize_corpus(spark, 200)).collect()
        if r["doc_id"] in live_ids
    ]
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, TEST_CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in rows
        ],
        TEST_CONFIG,
    )
    _parity(spark, eng_r, oracle, QUERIES[:3], scored=True, top_k=5)


# --------------------------------------------------------------------------
# Driver-built vs Spark-built deltas
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    """A 60-doc TEST_CONFIG index (bands of 32 ords) and one append batch
    of 40 new docs plus re-ingested base docs with new content.  The batch
    is materialized, so every append reads the same rows in the same order,
    and it spans several input partitions, so the Spark path merges more
    than one posting run per term."""
    import pandas as pd

    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        ord_shift_of,
    )

    out = tmp_path_factory.mktemp("small_index") / "idx"
    base = with_doc_ids(synthesize_corpus(spark, 60))
    build_index(spark, base, str(out), TEST_CONFIG)
    raw = synthesize_corpus(spark, 100)
    rows = sorted(
        (r.asDict() for r in with_doc_ids(raw).collect()),
        key=lambda r: r["doc_id"],
    )
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    new = [r for r in rows if r["doc_id"] not in base_ids]
    again = [
        dict(r, content="zanzibar expedition ledger " + r["content"])
        for r in rows
        if r["doc_id"] in base_ids and r["doc_id"] % 6 == 0
    ]
    pdf = pd.DataFrame(new + again)[raw.columns]
    batch = with_doc_ids(spark.createDataFrame(pdf, schema=raw.schema))
    assert batch.rdd.getNumPartitions() > 1
    # a second batch re-ingests docs the first one wrote: some of them
    # re-ingested already (their base ord is tombstoned), some new
    again2 = [
        dict(r, content="quetzalcoatl archive " + r["content"])
        for r in again[:3] + new[:3]
    ]
    batch2 = with_doc_ids(
        spark.createDataFrame(
            pd.DataFrame(again2)[raw.columns], schema=raw.schema
        )
    )
    # the re-ingested docs' old ords and the batch's new ords each span
    # more than one eval band
    m = IndexCatalog(out).manifest()["meta"]
    shift = ord_shift_of(60, int(m["band_bits"]))
    assert shift == 5 and len(again) >= 4 and len(new) == 40
    return out, batch, batch2


def _copy_index(src, dst):
    import shutil

    shutil.copytree(src, dst)
    return dst


def _append(spark, root, batch, key):
    from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
        append_batch,
    )

    return append_batch(spark, IndexCatalog(root), TEST_CONFIG, batch, key)


def _assert_same_live_index(spark, a, b, seq, key):
    """Two indexes that took the same batch hold identical delta rows
    (every column, payload bytes included), the same delta metrics apart
    from ts/bytes/path, and give the same (doc, score) results."""
    for table in (
        IndexCatalog.DELTA_DOCS,
        IndexCatalog.DELTA_DICTIONARY,
        IndexCatalog.DELTA_BLOCKS,
        IndexCatalog.DELTA_DOCMAP,
    ):
        da = spark.read.parquet(f"{a}/{table}/batch={seq}")
        db = spark.read.parquet(f"{b}/{table}/batch={seq}")
        assert da.schema == db.schema, table
        ra = sorted(map(tuple, da.collect()), key=repr)
        rb = sorted(map(tuple, db.collect()), key=repr)
        assert ra and ra == rb, table
    ma = IndexCatalog(a).deltas()[key]
    mb = IndexCatalog(b).deltas()[key]
    skip = {"ts", "bytes", "path"}
    assert {k: v for k, v in ma.items() if k not in skip} == {
        k: v for k, v in mb.items() if k not in skip
    }
    got = []
    for root in (a, b):
        eng = TaxonomyEngine(spark, str(root), TEST_CONFIG)
        got.append(
            sorted(
                map(tuple, run_categories(spark, eng.reader, QUERIES, scored=True).collect())
            )
        )
    assert got[0] and got[0] == got[1]


def test_driver_and_spark_appends_write_identical_deltas(
    spark, small_index, tmp_path, monkeypatch
):
    """The driver path and the Spark plan build the same delta from the
    same batch: docs, dictionary, blocks and docmap (tombstones included)
    are row-identical, and search results are the same.  A second batch
    re-ingests docs of the first, so its tombstone lookup must skip ords
    the first batch already tombstoned."""
    from ds_discovery_opensearch_taxonomy_spark.operators import index_append

    src, batch, batch2 = small_index
    a = _copy_index(src, tmp_path / "driver")
    b = _copy_index(src, tmp_path / "spark")
    ma = _append(spark, a, batch, "d1")
    assert ma["path"] == "driver"
    monkeypatch.setattr(index_append, "DRIVER_APPEND_MAX_ROWS", 0)
    mb = _append(spark, b, batch, "d1")
    assert mb["path"] == "spark"
    assert ma["seq"] == mb["seq"] == 0
    # the tombstones are there: the re-ingested docs left the live view
    tomb = spark.read.parquet(f"{a}/delta/docmap/batch=0").where("ford = -2")
    assert tomb.select("band").distinct().count() >= 2
    _assert_same_live_index(spark, a, b, 0, "d1")
    assert _append(spark, a, batch2, "d2")["path"] == "spark"
    monkeypatch.undo()
    assert _append(spark, b, batch2, "d2")["path"] == "driver"
    tomb2 = spark.read.parquet(f"{a}/delta/docmap/batch=1").where("ford = -2")
    assert sum(r["n"] for r in tomb2.collect()) == 6
    _assert_same_live_index(spark, a, b, 1, "d2")


def test_append_path_selection_at_row_limit(spark, small_index, tmp_path, monkeypatch):
    """A batch of DRIVER_APPEND_MAX_ROWS + 1 rows runs the Spark plan; one
    of DRIVER_APPEND_MAX_ROWS rows is built in the driver."""
    from ds_discovery_opensearch_taxonomy_spark.operators import index_append

    src, batch, _ = small_index
    monkeypatch.setattr(index_append, "DRIVER_APPEND_MAX_ROWS", 5)
    root = _copy_index(src, tmp_path / "idx")
    ordered = batch.orderBy("doc_id")
    m1 = _append(spark, root, ordered.limit(6), "six")
    assert m1["path"] == "spark" and m1["n_docs"] == 6
    m2 = _append(spark, root, ordered.offset(6).limit(5), "five")
    assert m2["path"] == "driver" and m2["n_docs"] == 5
    assert IndexCatalog(root).deltas()["five"]["path"] == "driver"


def test_driver_retry_clears_crashed_spark_append(
    spark, small_index, tmp_path, monkeypatch
):
    """A Spark-path append that wrote its part files but crashed before
    its manifest commit, retried under the same batch_key through the
    driver path: the retry reuses the seq, no file of the crashed attempt
    survives, and the live index equals a clean driver-path append."""
    from ds_discovery_opensearch_taxonomy_spark.operators import index_append

    src, batch, _ = small_index
    crashed = _copy_index(src, tmp_path / "crashed")
    clean = _copy_index(src, tmp_path / "clean")

    def crash(self, key, metrics):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(index_append, "DRIVER_APPEND_MAX_ROWS", 0)
    monkeypatch.setattr(IndexCatalog, "commit_delta", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        _append(spark, crashed, batch, "r1")
    monkeypatch.undo()
    left = {p for p in (crashed / "delta").rglob("*") if p.is_file()}
    assert any(p.name.startswith("part-") for p in left)
    assert any("staging" in str(p) for p in left)
    assert not IndexCatalog(crashed).deltas()

    m = _append(spark, crashed, batch, "r1")
    assert m["path"] == "driver" and m["seq"] == 0
    assert not {p for p in left if p.exists()}
    assert not (crashed / "delta" / "staging" / "batch=0").exists()
    assert _append(spark, clean, batch, "r1")["path"] == "driver"
    _assert_same_live_index(spark, crashed, clean, 0, "r1")


def test_compaction_ratio_measures_against_compacted_size(
    spark, small_index, tmp_path
):
    """After a compaction the byte-ratio trigger compares delta bytes with
    the COMPACTED postings size: compaction refreshes every bucket's
    ``bytes`` (keeping its ``ts``).  For an append whose delta bytes lie
    between the ratio of the build-time size and the ratio of the
    compacted size, the trigger answers as the compacted size says."""
    import dataclasses
    from pathlib import Path

    src, batch, _ = small_index
    root = _copy_index(src, tmp_path / "idx")
    cat = IndexCatalog(root)
    build_buckets = cat.manifest()["buckets"]
    build_bytes = sum(int(b["bytes"]) for b in build_buckets.values())
    cfg = dataclasses.replace(
        TEST_CONFIG, compact_after_batches=99, compact_after_delta_ratio=None
    )
    eng = TaxonomyEngine(spark, str(root), cfg)
    assert eng.append_docs(batch, batch_key="grow", auto_compact=False)
    assert eng.compact() is not None
    buckets = cat.manifest()["buckets"]
    gen_dir = Path(cat.path("postings"))
    for b, meta in buckets.items():
        assert meta["ts"] == build_buckets[b]["ts"]
        assert int(meta["bytes"]) == sum(
            f.stat().st_size for f in (gen_dir / f"bucket={b}").rglob("*.parquet")
        )
    compacted_bytes = sum(int(b["bytes"]) for b in buckets.values())
    assert compacted_bytes != build_bytes

    more = with_doc_ids(synthesize_corpus(spark, 130)).join(
        eng.reader.docs().select("doc_id"), "doc_id", "left_anti"
    )
    more = spark.createDataFrame(more.collect(), more.schema)
    m = eng.append_docs(more, batch_key="small", auto_compact=False)
    delta_bytes = int(m["bytes"])
    # a ratio between delta/build and delta/compacted: the trigger's answer
    # depends on which base it measures against
    ratio = delta_bytes / math.sqrt(build_bytes * compacted_bytes)
    trips = delta_bytes >= ratio * compacted_bytes
    assert trips != (delta_bytes >= ratio * build_bytes)
    eng_r = TaxonomyEngine(
        spark, str(root), dataclasses.replace(cfg, compact_after_delta_ratio=ratio)
    )
    assert (eng_r.maybe_compact() is not None) == trips
    assert len(cat.deltas()) == (0 if trips else 1)


# --------------------------------------------------------------------------
# Compaction against the live views
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def compaction_index(spark, small_index, tmp_path_factory):
    """small_index after one append and a compaction (an earlier compacted
    generation, with its salt in the compacted range), then two more
    deltas: batch 2 re-ingests docs of batch 1, batch 3 adds 30 new docs
    and re-ingests 4 base docs."""
    import pandas as pd

    src, batch, batch2 = small_index
    root = _copy_index(src, tmp_path_factory.mktemp("compaction") / "idx")
    assert _append(spark, root, batch, "c1") is not None
    eng = TaxonomyEngine(spark, str(root), TEST_CONFIG)
    assert eng.compact() is not None
    assert _append(spark, root, batch2, "c2") is not None
    raw = synthesize_corpus(spark, 130)
    rows = sorted(
        (r.asDict() for r in with_doc_ids(raw).collect()),
        key=lambda r: r["doc_id"],
    )
    live = {r["doc_id"] for r in eng.reader.docs().select("doc_id").collect()}
    new = [r for r in rows if r["doc_id"] not in live][:30]
    again = [
        dict(r, content="votes for women " + r["content"])
        for r in rows
        if r["doc_id"] in live
    ][:4]
    batch3 = with_doc_ids(
        spark.createDataFrame(pd.DataFrame(new + again)[raw.columns], raw.schema)
    )
    assert _append(spark, root, batch3, "c3") is not None
    assert len(IndexCatalog(root).deltas()) == 2
    return root


def _compact(spark, root) -> tuple[dict, int]:
    """compact_index on ``root`` -> (its result, the Spark jobs it ran)."""
    from ds_discovery_opensearch_taxonomy_spark.operators import index_append

    first = _last_job(spark)
    out = index_append.compact_index(IndexCatalog(root), TEST_CONFIG)
    return out, _last_job(spark) - first


def _last_job(spark) -> int:
    return max(
        spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1
    )


def _answers(spark, root, monkeypatch) -> list:
    """Scored (category, doc, score) rows over QUERIES, asserted `==`
    between the driver fetcher and the Spark one."""
    from ds_discovery_opensearch_taxonomy_spark.operators import search

    got = []
    for cap in (search.LOCAL_SNAPSHOT_MAX_BYTES, -1):
        with monkeypatch.context() as m:
            m.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", cap)
            eng = TaxonomyEngine(spark, str(root), TEST_CONFIG)
            got.append(
                sorted(
                    map(
                        tuple,
                        run_categories(
                            spark, eng.reader, QUERIES, scored=True
                        ).collect(),
                    )
                )
            )
    assert got[0] and got[0] == got[1]
    return got[0]


def _assert_same_compaction(spark, a, b):
    """Two compacted indexes hold row-identical postings, dictionary, docs
    and docmap (every column, payload bytes included) and the same
    compaction state in their manifests."""
    ca, cb = IndexCatalog(a), IndexCatalog(b)
    for table in (
        IndexCatalog.POSTINGS,
        IndexCatalog.DICTIONARY,
        IndexCatalog.DOCS,
        IndexCatalog.DOCMAP,
    ):
        da = spark.read.parquet(ca.path(table))
        db = spark.read.parquet(cb.path(table))
        assert da.schema == db.schema, table
        ra = sorted(map(tuple, da.collect()), key=repr)
        rb = sorted(map(tuple, db.collect()), key=repr)
        assert ra and ra == rb, table
    ma, mb = ca.manifest()["meta"], cb.manifest()["meta"]
    for key in ("stats_base", "compacted_salts", "next_delta_seq", "gen"):
        assert ma[key] == mb[key], key


def _view_rows(df, columns) -> list:
    return sorted((tuple(r[c] for c in columns) for r in df.collect()), key=repr)


def test_driver_and_spark_compactions_write_identical_tables(
    spark, compaction_index, tmp_path, monkeypatch
):
    """The driver compaction folds two deltas (re-ingested docs, an earlier
    compacted generation in the view) into tables row-identical to the
    Spark live views of the uncompacted index — the views the Spark
    fetcher reads, with every delta-era salt renumbered densely — records
    the folded stats in its manifest, answers QUERIES as the uncompacted
    index does under both fetchers, and runs no Spark job."""
    from ds_discovery_opensearch_taxonomy_spark.operators import index_append

    expected = _answers(spark, compaction_index, monkeypatch)
    root = _copy_index(compaction_index, tmp_path / "idx")
    cat = IndexCatalog(root)
    views = {
        IndexCatalog.POSTINGS: index_append.postings_view(spark, cat),
        IndexCatalog.DICTIONARY: index_append.dictionary_view(
            spark, cat, TEST_CONFIG
        ),
        IndexCatalog.DOCS: index_append.docs_view(spark, cat),
        IndexCatalog.DOCMAP: index_append.docmap_view(spark, cat),
    }
    columns = {t: sorted(df.columns) for t, df in views.items()}
    want = {t: _view_rows(df, columns[t]) for t, df in views.items()}
    stats = index_append._stats_totals(cat, [f.name for f in TEST_CONFIG.fields])

    out, jobs = _compact(spark, root)
    assert jobs == 0
    assert out["batches_compacted"] == 2
    assert out["bytes_written"] == sum(
        cat.table_bytes(t) for t in ("postings", "dictionary", "docs", "docmap")
    )
    meta = cat.manifest()["meta"]
    assert meta["compacted_salts"] == 3 and meta["next_delta_seq"] == 0
    assert meta["stats_base"] == stats
    assert meta["gen"] == out["generations"]

    salt = columns[IndexCatalog.POSTINGS].index("salt")
    old = sorted({
        r[salt]
        for r in want[IndexCatalog.POSTINGS]
        if r[salt] >= index_append.COMPACTED_SALT_BASE
    })
    assert len(old) == 3
    dense = {s: index_append.COMPACTED_SALT_BASE + i for i, s in enumerate(old)}
    want[IndexCatalog.POSTINGS] = sorted(
        (
            r[:salt] + (dense.get(r[salt], r[salt]),) + r[salt + 1:]
            for r in want[IndexCatalog.POSTINGS]
        ),
        key=repr,
    )
    for table, rows in want.items():
        got = spark.read.parquet(cat.path(table))
        assert sorted(got.columns) == columns[table], table
        assert rows and _view_rows(got, columns[table]) == rows, table
    assert _answers(spark, root, monkeypatch) == expected


@pytest.mark.parametrize("crashed_path", ["driver"])
def test_compaction_retry_after_crash_before_commit(
    spark, compaction_index, tmp_path, crashed_path, monkeypatch
):
    """A compaction that wrote its generation dirs and then raised in the
    manifest commit (clear_deltas) leaves the old main+delta view serving
    the same answers; a retry then equals a clean compaction.  The retry
    must clear the crashed attempt's files first: the direct writer never
    truncates, so its leftover files would commit beside the retry's."""
    expected = _answers(spark, compaction_index, monkeypatch)
    crashed = _copy_index(compaction_index, tmp_path / "crashed")
    clean = _copy_index(compaction_index, tmp_path / "clean")

    def crash(self, *args, **kwargs):
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as m:
        m.setattr(IndexCatalog, "clear_deltas", crash)
        with pytest.raises(RuntimeError, match="crash before commit"):
            _compact(spark, crashed)
    assert len(IndexCatalog(crashed).deltas()) == 2
    assert any((crashed / "dictionary__g2").rglob("*.parquet"))
    assert _answers(spark, crashed, monkeypatch) == expected

    _compact(spark, crashed)
    _compact(spark, clean)
    _assert_same_compaction(spark, crashed, clean)
    assert _answers(spark, crashed, monkeypatch) == expected
