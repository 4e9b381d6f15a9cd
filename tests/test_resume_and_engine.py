"""Checkpoint/resume (SURVEY.md §5 item 5) + engine facade + incremental
micro-batch parity tests."""

import json

import pytest

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    load_categories,
    synthesize_corpus,
    with_doc_ids,
)

# build_parallelism=1: the kill-after-2-commits test needs deterministic
# commit order (concurrent workers would commit later buckets before the
# injected failure propagates)
CFG = EngineConfig(
    n_term_buckets=4, salt_target_postings=64, n_eval_bands=2,
    build_parallelism=1, bucket_resume=True,
)
N = 250


@pytest.fixture(scope="module")
def corpus(spark):
    return with_doc_ids(synthesize_corpus(spark, N))


class InterruptedBuild(Exception):
    pass


def test_resume_after_kill(spark, corpus, tmp_path):
    """Kill the build after 2 of 4 bucket commits; resume must skip the
    committed buckets and produce an index identical to an uninterrupted
    build."""
    full_dir = tmp_path / "full"
    build_index(spark, corpus, str(full_dir), CFG)

    part_dir = tmp_path / "partial"
    orig_commit = IndexCatalog.commit_bucket
    calls = {"n": 0}

    def killing_commit(self, bucket, metrics):
        orig_commit(self, bucket, metrics)
        calls["n"] += 1
        if calls["n"] == 2:
            raise InterruptedBuild()

    IndexCatalog.commit_bucket = killing_commit
    try:
        with pytest.raises(InterruptedBuild):
            build_index(spark, corpus, str(part_dir), CFG)
    finally:
        IndexCatalog.commit_bucket = orig_commit

    m = IndexCatalog(part_dir).manifest()
    assert len(m["buckets"]) == 2 and "complete" not in m["stages"]

    # resume: completes remaining buckets without redoing committed ones
    committed_ts = {b: v["ts"] for b, v in m["buckets"].items()}
    build_index(spark, corpus, str(part_dir), CFG, resume=True)
    m2 = IndexCatalog(part_dir).manifest()
    assert len(m2["buckets"]) == CFG.n_term_buckets and "complete" in m2["stages"]
    for b, ts in committed_ts.items():
        assert m2["buckets"][b]["ts"] == ts, "committed bucket was rebuilt"

    # identical index content (same block rows) and metrics
    full = spark.read.parquet(str(full_dir / "postings")).drop("bucket")
    part = spark.read.parquet(str(part_dir / "postings")).drop("bucket")
    assert full.count() == part.count()
    assert full.exceptAll(part).count() == 0
    fm = IndexCatalog(full_dir).manifest()
    assert sum(b["postings"] for b in fm["buckets"].values()) == sum(
        b["postings"] for b in m2["buckets"].values()
    )


@pytest.fixture(scope="module")
def engine(spark, corpus, tmp_path_factory):
    out = tmp_path_factory.mktemp("engine_idx")
    return TaxonomyEngine.build(spark, corpus, str(out), CFG)


def test_categorise_all_includes_empty(spark, engine):
    per_doc = engine.categorise_all().collect()
    assert len(per_doc) == N  # every doc emitted, empty arrays included
    empties = [r for r in per_doc if not r["category_ids"]]
    nonempty = [r for r in per_doc if r["category_ids"]]
    assert nonempty, "fixture corpus must match some categories"
    assert empties, "synthetic corpus should also have unmatched docs"
    for r in nonempty:
        assert r["category_ids"] == sorted(r["category_ids"])


def test_single_doc_matches_batch_path(spark, engine, corpus):
    """Daily-update single-doc scores == batch index scores (global stats)."""
    rows = [r.asDict() for r in corpus.limit(25).collect()]
    cats = load_categories()
    subset = [c["category_id"] for c in cats[:30]]
    batch = engine.run_queries(subset=subset, scored=True).collect()
    batch_map = {}
    for r in batch:
        batch_map.setdefault(r["doc_id"], {})[r["category_id"]] = r["score"]
    single = engine.categorise_docs(rows, scored=True, subset=subset)
    for row, res in zip(rows, single):
        expected = batch_map.get(row["doc_id"], {})
        got = {c["category_id"]: c["score"] for c in res["categories"]}
        assert set(got) == set(expected), f"doc {row['doc_id']}"
        for cid, s in expected.items():
            assert abs(got[cid] - s) < 1e-9


def test_categorise_docs_warns_on_bulk_misuse(engine):
    """The doc-at-a-time API is a driver-side loop by design (reference
    CategoriseSingle); feeding it a bulk list must warn and redirect to the
    distributed paths rather than silently crawl."""
    import warnings

    rows = [{"doc_id": i, "content": "air force"} for i in range(1001)]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        engine.categorise_docs(rows, scored=False, subset=["C10002"])
    assert any("driver-side Python loop" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        engine.categorise_docs(rows[:5], scored=False, subset=["C10002"])
    assert not w


def test_search_pagination_and_count(spark, engine):
    q = '"ration" OR "rations" OR "rationing"'
    total = engine.count(q)
    assert total > 0
    page1 = engine.search_page(q, limit=3, offset=0)
    page2 = engine.search_page(q, limit=3, offset=3)
    ids1 = [r["doc_id"] for r in page1]
    ids2 = [r["doc_id"] for r in page2]
    assert len(ids1) == min(3, total)
    assert not set(ids1) & set(ids2)
    scores = [r["score"] for r in page1 + page2]
    assert scores == sorted(scores, reverse=True)
    # min_score filter
    hi = engine.search_page(q, min_score=scores[0], limit=10)
    assert all(r["score"] >= scores[0] for r in hi)


def test_facets(spark, engine):
    rows = engine.facets("lang").collect()
    assert sum(r["count"] for r in rows) == N
    counts = [r["count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_save_results_merge(spark, engine):
    per_doc = engine.categorise_all()
    engine.save_results(per_doc)
    n1 = engine.results().count()
    assert n1 == N
    # idempotent re-merge + targeted update
    sample = engine.results().limit(1).collect()[0]
    updated = spark.createDataFrame(
        [(sample["doc_id"], ["CXXXXX"])], "doc_id long, category_ids array<string>"
    )
    engine.save_results(updated)
    assert engine.results().count() == N
    got = engine.results().where(f"doc_id = {sample['doc_id']}").collect()[0]
    assert got["category_ids"] == ["CXXXXX"]


def test_incremental_stream(spark, engine, corpus, tmp_path):
    """files-source streaming -> foreachBatch categorise -> merged results."""
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        start_incremental,
    )

    inbox = tmp_path / "inbox"
    corpus.drop("doc_id", "content_sha").limit(10).write.mode("overwrite").parquet(str(inbox))
    schema = spark.read.parquet(str(inbox)).schema
    stream = spark.readStream.schema(schema).parquet(str(inbox))
    q = start_incremental(engine, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    res = engine.results()
    assert res.count() >= 10
    # streamed docs agree with the batch path (boolean sets)
    batch = {r["doc_id"]: r["category_ids"] for r in engine.categorise_all().collect()}
    streamed_ids = [
        r["doc_id"] for r in with_doc_ids(spark.read.parquet(str(inbox))).collect()
    ]
    for r in res.where(res.doc_id.isin(streamed_ids[:5])).collect():
        assert sorted(r["category_ids"]) == sorted(batch[r["doc_id"]])


def test_save_results_crash_between_write_and_swap(spark, engine, monkeypatch):
    """A crash AFTER the new snapshot is written but BEFORE the manifest
    pointer swap must leave the previous results table fully readable
    (round-1 verdict: the old double-overwrite lost the table)."""
    from pyspark.sql import functions as F

    if not engine.reader.cat.results_buckets():  # self-sufficient solo run
        engine.save_results(engine.categorise_all())
    before = {r["doc_id"]: r["category_ids"] for r in engine.results().collect()}
    v_before = engine.reader.cat.results_buckets()

    boom = RuntimeError("injected crash before pointer swap")
    monkeypatch.setattr(
        engine.reader.cat,
        "commit_results_buckets",
        lambda *a, **k: (_ for _ in ()).throw(boom),
    )
    update = engine.results().limit(2).select(
        "doc_id", F.array(F.lit("CRASH")).alias("category_ids")
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        engine.save_results(update)
    monkeypatch.undo()

    # old snapshot still live and byte-complete
    assert engine.reader.cat.results_buckets() == v_before
    after = {r["doc_id"]: r["category_ids"] for r in engine.results().collect()}
    assert after == before

    # a subsequent save commits normally over the aborted attempt
    engine.save_results(update)
    got = {r["doc_id"]: r["category_ids"] for r in engine.results().collect()}
    changed = [d for d, c in got.items() if list(c) == ["CRASH"]]
    assert len(changed) == 2 and len(got) == len(before)


def test_save_results_small_batch_touches_only_its_buckets(spark, engine):
    """The bucketed sink's scale contract (round-3 S8 flag): a small-batch
    save must leave every UNtouched bucket's files byte-identical on disk
    (O(batch) I/O, the Iceberg MERGE file-pruning analogue)."""
    from pathlib import Path
    from pyspark.sql import functions as F

    if not engine.reader.cat.results_buckets():
        engine.save_results(engine.categorise_all())
    cat = engine.reader.cat
    nb = int(cat.get_meta("n_results_buckets"))
    assert len(cat.results_buckets()) > 1, "need a multi-bucket table"

    def bucket_files():
        out = {}
        for b, v in cat.results_buckets().items():
            d = Path(cat.root) / f"{cat.RESULTS_PARTS}/v{v}/bucket={b}"
            out[b] = {
                p.name: (p.stat().st_size, p.stat().st_mtime_ns)
                for p in d.glob("*.parquet")
            }
        return out

    before = bucket_files()
    one = engine.results().limit(1).select(
        "doc_id", F.array(F.lit("CBUCKET")).alias("category_ids")
    )
    doc = one.collect()[0]["doc_id"]
    engine.save_results(one)
    after = bucket_files()
    touched = [b for b in after if after[b] != before.get(b)]
    # exactly the batch's one bucket moved; all others byte-identical
    want_b = int(
        spark.sql(
            f"select pmod(xxhash64(cast({doc} as bigint)), {nb}) p"
        ).collect()[0]["p"]
    )
    assert touched == [want_b]
    got = engine.results().where(F.col("doc_id") == doc).collect()[0]
    assert got["category_ids"] == ["CBUCKET"]


def test_parse_iaid_messages(spark):
    """Queue-message contract: ;-separated IAID lists, malformed entries
    rejected by the reference regex (TaxonomyCLI/Categoriser.cs:28)."""
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        parse_iaid_messages,
    )

    msgs = spark.createDataFrame(
        [
            ("C123;D45678; C99 ;bogus;C1",),  # C1: too few digits
            ("e" * 32 + ";C123456789",),  # 32-char ok; 9 digits too many
            ("",),
        ],
        "body string",
    )
    got = sorted(r["iaid"] for r in parse_iaid_messages(msgs).collect())
    assert got == ["C123", "C99", "D45678", "e" * 32]


def test_streaming_expanders():
    """Sorted-vocab expansion helpers: prefix bisect + regex fallback."""
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import (
        TermRangeNode,
    )
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        _expand_range,
        _expand_wildcard,
    )

    vocab = sorted(
        ["ship", "shipment", "shipwreck", "shipwrecked", "shop", "sh", "zzz"]
    )
    assert _expand_wildcard(vocab, "ship*") == [
        "ship", "shipment", "shipwreck", "shipwrecked",
    ]
    assert _expand_wildcard(vocab, "shipwreck*") == ["shipwreck", "shipwrecked"]
    assert _expand_wildcard(vocab, "sh?p") == ["ship", "shop"]
    assert _expand_wildcard(vocab, "*wreck") == ["shipwreck"]  # leading star
    assert _expand_wildcard(vocab, "s*k") == ["shipwreck"]
    r = TermRangeNode("f", "ship", "shipwreck", True, False)
    assert _expand_range(vocab, r) == ["ship", "shipment"]
    r2 = TermRangeNode("f", None, "sh", True, True)
    assert _expand_range(vocab, r2) == ["sh"]


def _regress_manifest(idx_dir, keep_stages, drop_tables):
    """Rewind a completed index to a manifest holding only ``keep_stages``
    (and no buckets), deleting ``drop_tables`` dirs.  The combined
    staging+docs commit never writes such a manifest; these states model
    a hand-edited or partially restored index."""
    import shutil

    cat = IndexCatalog(idx_dir)
    m = cat.manifest()
    m["stages"] = {k: v for k, v in m["stages"].items() if k in keep_stages}
    m["buckets"] = {}
    m.get("meta", {}).pop("postings_attempts", None)
    cat._write_manifest(m)
    for t in drop_tables:
        shutil.rmtree(cat.path(t), ignore_errors=True)
    return cat


def _assert_same_postings(spark, ref_dir, got_dir):
    ref = spark.read.parquet(str(ref_dir / "postings")).drop("bucket")
    got = spark.read.parquet(str(got_dir / "postings")).drop("bucket")
    assert ref.count() == got.count()
    assert ref.exceptAll(got).count() == 0


def _assert_same_docs(spark, ref_dir, got_dir):
    ref_docs = spark.read.parquet(str(ref_dir / "docs")).select("ord", "doc_id")
    got_docs = spark.read.parquet(str(got_dir / "docs")).select("ord", "doc_id")
    assert got_docs.count() == ref_docs.count() == N
    assert ref_docs.exceptAll(got_docs).count() == 0


def test_resume_after_crash_in_staging_docs_commit(
    spark, corpus, tmp_path, monkeypatch
):
    """staging and docs commit in ONE manifest write: a crash in that
    write leaves neither stage committed (no manifest ever holds exactly
    one of them), and resume re-runs the tee and converges to the same
    postings and docs (ord, doc_id) as a fresh build."""
    ref_dir = tmp_path / "ref"
    build_index(spark, corpus, str(ref_dir), CFG)

    crash_dir = tmp_path / "crash"
    written = []
    orig_write = IndexCatalog._write_manifest

    def recording_write(self, m):
        written.append(set(m["stages"]))
        orig_write(self, m)

    orig_commit = IndexCatalog.commit_stages

    def crashing_commit(self, stages):
        if "staging" in stages:
            raise InterruptedBuild()
        orig_commit(self, stages)

    monkeypatch.setattr(IndexCatalog, "_write_manifest", recording_write)
    monkeypatch.setattr(IndexCatalog, "commit_stages", crashing_commit)
    with pytest.raises(InterruptedBuild):
        build_index(spark, corpus, str(crash_dir), CFG)
    monkeypatch.setattr(IndexCatalog, "commit_stages", orig_commit)
    stages = IndexCatalog(crash_dir).manifest()["stages"]
    assert "staging" not in stages and "docs" not in stages

    build_index(spark, corpus, str(crash_dir), CFG, resume=True)
    assert "complete" in IndexCatalog(crash_dir).manifest()["stages"]
    assert written
    for names in written:
        assert ("staging" in names) == ("docs" in names), names
    _assert_same_postings(spark, ref_dir, crash_dir)
    _assert_same_docs(spark, ref_dir, crash_dir)


def test_resume_docs_committed_staging_not(spark, corpus, tmp_path):
    """docs committed / staging not: resume re-runs the docs-tee, commits
    both stages together and converges to a fresh build's postings and
    docs (ord, doc_id)."""
    ref_dir = tmp_path / "ref"
    build_index(spark, corpus, str(ref_dir), CFG)

    mix_dir = tmp_path / "mix_docs_first"
    build_index(spark, corpus, str(mix_dir), CFG)
    cat = _regress_manifest(
        mix_dir,
        keep_stages={"ords", "docs"},
        drop_tables=["staging", "doc_stats", "docmap", "dictionary", "postings"],
    )
    build_index(spark, corpus, str(mix_dir), CFG, resume=True)
    stages = cat.manifest()["stages"]
    assert "complete" in stages
    assert "attempts" in stages["staging"]["metrics"]
    assert stages["docs"]["metrics"]["n_docs"] == N
    _assert_same_postings(spark, ref_dir, mix_dir)
    _assert_same_docs(spark, ref_dir, mix_dir)


def test_resume_staging_committed_docs_not(spark, corpus, tmp_path):
    """staging committed / docs not, with the docs dir gone: resume must
    not skip the docs-tee on the strength of the staging commit alone —
    it re-runs the tee and the rebuilt docs keep the ord alignment."""
    ref_dir = tmp_path / "ref2"
    build_index(spark, corpus, str(ref_dir), CFG)

    mix_dir = tmp_path / "mix_staging_first"
    build_index(spark, corpus, str(mix_dir), CFG)
    cat = _regress_manifest(
        mix_dir,
        keep_stages={"ords", "staging"},
        drop_tables=["docs", "doc_stats", "docmap", "dictionary", "postings"],
    )
    build_index(spark, corpus, str(mix_dir), CFG, resume=True)
    stages = cat.manifest()["stages"]
    assert "complete" in stages
    assert stages["docs"]["metrics"]["n_docs"] == N
    _assert_same_postings(spark, ref_dir, mix_dir)
    _assert_same_docs(spark, ref_dir, mix_dir)


def test_results_reader_survives_saves_then_gc_beyond_horizon(spark, engine):
    """Snapshot retention (round-4 review: immediate GC raced concurrent
    readers): a DataFrame obtained from ``results()`` BEFORE a save still
    collects after later saves supersede its bucket dirs — superseded
    generations fall out only beyond config.results_snapshot_retention
    further saves of the same bucket, at which point their dirs ARE
    GC'd (the Iceberg snapshot-expiration analogue)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    if not engine.reader.cat.results_buckets():
        engine.save_results(engine.categorise_all())
    cat = engine.reader.cat
    held = engine.results()
    n_before = held.count()

    one = engine.results().limit(1).select("doc_id")
    doc = one.collect()[0]["doc_id"]

    def save_tag(tag):
        engine.save_results(
            spark.createDataFrame(
                [(doc, [tag])], "doc_id long, category_ids array<string>"
            )
        )

    keep = engine.config.results_snapshot_retention
    assert keep >= 2
    v0 = dict(cat.results_buckets())
    save_tag("RET1")
    save_tag("RET2")
    # within the horizon: the pre-save DataFrame still collects fully
    assert held.count() == n_before
    # the bucket's original dir is still on disk (retired, not GC'd)
    (b,) = [b for b in cat.results_buckets() if cat.results_buckets()[b] != v0[b]]
    first_old = v0[b]
    assert Path(engine._results_part(b, first_old)).exists()
    # one more save pushes the ORIGINAL version past keep=2 -> GC victim
    save_tag("RET3")
    assert not Path(engine._results_part(b, first_old)).exists()
    # retired ledger never holds more than `keep` versions per bucket
    retired = cat.manifest().get("results_retired", {})
    assert all(len(v) <= keep for v in retired.values())
    # live view is the latest write and table row count is unchanged
    got = engine.results().where(F.col("doc_id") == doc).collect()[0]
    assert got["category_ids"] == ["RET3"]
    assert engine.results().count() == n_before
