"""TaxonomyEngine — the user-facing facade (SURVEY.md §3.3 re-plan).

Mirrors the reference's service surface:

* ``categorise_all``      — full-reindex pipeline (FullReindexService.cs:102-278):
  every doc × every category, grouped per doc incl. empty results
  (InMemoryCategoriserRepository.cs:376-394 seeds every batch IAID);
* ``categorise_docs``     — single/multi-doc daily-update path
  (QueryBasedCategoriserService.CategoriseSingle/TestCategoriseSingle),
  evaluated doc-at-a-time but scored with GLOBAL index stats so scores are
  identical to the batch path;
* ``search``              — API search with min-score / limit / offset
  (OpenSearchIAViewRepository.PerformSearch:151-186, PaginatedList);
* ``count`` / ``facets``  — OpenSearchConnection.Count:43-61 / SetupFacets:322-336;
* ``save_results``        — bulk doc-as-upsert of TAXONOMY_ID
  (OpenSearchIAViewUpdateRepository.SaveAll:49-70) as an idempotent
  merge-by-key write (Iceberg ``MERGE INTO`` on a real catalog).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.operators import search as search_ops
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
    OracleIndex,
    build_oracle_doc,
)
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.categories import CategoryStore
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import load_categories


class TaxonomyEngine:
    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self.reader = search_ops.IndexReader(spark, index_dir, self.config)
        self._categories: list[dict] | None = None
        #: streaming micro-batch payload (broadcast parsed trees) + its
        #: (category pairs, config) cache key — see streaming._batch_payload
        self._stream_payload = None
        self._stream_payload_key = None

    # -- construction ---------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        index_dir: str,
        config: EngineConfig | None = None,
        resume: bool = True,
    ) -> "TaxonomyEngine":
        build_index(spark, corpus, index_dir, config, resume=resume)
        eng = cls(spark, index_dir, config)
        # seed the index's persistent category dimension from the bundled
        # fixture (idempotent) — queries run off the PERSISTED table from
        # here on (MongoCategoryRepository stand-in, sources/categories.py)
        eng.category_store.seed(load_categories())
        return eng

    # -- incremental maintenance (daily update, SURVEY §3.2) ------------------

    def refresh(self) -> None:
        """Rebind to the index's current state (after appends/compaction):
        drops the reader's persisted tables and compile caches so the next
        query sees the live view — the OpenSearch "refresh makes changes
        searchable" analogue.

        The streaming micro-batch payload (``_stream_payload``) SURVIVES a
        refresh: it holds only the parsed category trees and the config.
        Each batch compiles those trees against its own vocabulary and
        evaluates unscored bool membership, so nothing in the payload
        depends on index state.  It is invalidated by category or config
        changes instead (keyed in streaming._batch_payload)."""
        self.reader.unpersist()
        self.reader = search_ops.IndexReader(
            self.spark, str(self.reader.cat.root), self.config
        )

    def append_docs(
        self,
        rows_df: DataFrame,
        batch_key: str,
        auto_compact: bool = True,
    ) -> dict | None:
        """Append new/updated corpus rows to the LIVE index (idempotent by
        ``batch_key``) and refresh, so they are immediately searchable —
        the reference's bulk doc-as-upsert contract
        (OpenSearchIAViewUpdateRepository.cs:32-70).  Re-ingested doc_ids
        supersede their previous version (tombstoned); a batch must not
        contain one doc_id twice.

        Runs the auto-compaction policy after each applied append (pass
        ``auto_compact=False`` to defer): without it an API-driven daily-
        update loop accumulates unbounded deltas (~+1% query latency per
        delta, BENCH.md) until someone compacts manually — the streaming
        and CLI paths already compact, the public API must too."""
        from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
            append_batch,
        )

        metrics = append_batch(
            self.spark, self.reader.cat, self.config, rows_df, batch_key
        )
        if metrics is not None:
            self.refresh()
            if auto_compact:
                compacted = self.maybe_compact()
                if compacted is not None:
                    metrics = {**metrics, "compacted": compacted}
        return metrics

    def compact(self) -> dict | None:
        """Fold accumulated append deltas into the main tables (one atomic
        manifest commit; see operators/index_append.compact_index)."""
        from ds_discovery_opensearch_taxonomy_spark.operators.index_append import (
            compact_index,
        )

        out = compact_index(self.reader.cat, self.config)
        if out is not None:
            self.refresh()
        return out

    def maybe_compact(self) -> dict | None:
        """Auto-compaction policy (the Lucene segment-count merge-trigger
        analogue): compact when accumulated append deltas cross the
        configured batch-count or byte threshold.  Called by the streaming
        update path after every append; cheap no-op otherwise (one manifest
        read).  Threshold rationale: see config.compact_after_batches."""
        deltas = self.reader.cat.deltas()
        if not deltas:
            return None
        c = self.config
        delta_bytes = sum(int(d.get("bytes") or 0) for d in deltas.values())
        trip = len(deltas) >= c.compact_after_batches
        if not trip and c.compact_after_delta_bytes:
            trip = delta_bytes >= c.compact_after_delta_bytes
        if not trip and c.compact_after_delta_ratio:
            # main postings bytes from the manifest's per-bucket lineage —
            # already in memory from the deltas() read, no directory walk
            main_bytes = sum(
                int(b.get("bytes") or 0)
                for b in self.reader.cat.manifest().get("buckets", {}).values()
            )
            trip = (
                main_bytes > 0
                and delta_bytes >= c.compact_after_delta_ratio * main_bytes
            )
        if trip:
            return self.compact()
        return None

    # -- categories (S3/S4: small dimension, loaded once & cached) -----------

    @property
    def category_store(self) -> CategoryStore:
        """Persistent category dimension bound to this index (CRUD:
        add/save/find — MongoCategoryRepository.cs:113-185 analogue)."""
        return CategoryStore(self.reader.cat.root)

    def categories(self) -> list[dict]:
        """The category dimension: the index's PERSISTED store when one
        exists (seeded at build), else the bundled fixture; cached for the
        session (``reload_categories`` to re-read after CRUD)."""
        if self._categories is None:
            store = self.category_store
            self._categories = (
                store.list_all() if store.exists() else load_categories()
            )
        return self._categories

    def reload_categories(self) -> None:
        self._categories = None

    def set_categories(self, cats: list[dict]) -> None:
        self._categories = cats

    def _category_pairs(self, subset: list[str] | None = None) -> list[tuple[str, str]]:
        cats = self.categories()
        if subset is not None:
            keep = set(subset)
            cats = [c for c in cats if c["category_id"] in keep or c["title"] in keep]
        return [(c["category_id"], c["query_text"]) for c in cats]

    # -- batch categorisation --------------------------------------------------

    def run_queries(
        self,
        subset: list[str] | None = None,
        scored: bool = False,
        top_k: int | None = None,
    ) -> DataFrame:
        """(category_id, doc_id, score) over the whole index."""
        return search_ops.run_categories(
            self.spark, self.reader, self._category_pairs(subset), scored=scored, top_k=top_k
        )

    def categorise_all(
        self, subset: list[str] | None = None, scored: bool = False
    ) -> DataFrame:
        """(doc_id, category_ids sorted array) for EVERY doc — docs matching
        zero categories keep an empty array (reference seeds every IAID)."""
        hits = self.run_queries(subset, scored=scored)
        per_doc = hits.groupBy("doc_id").agg(
            F.array_sort(F.collect_set("category_id")).alias("category_ids")
        )
        return (
            self.reader.docs()
            .select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("category_ids", F.array().cast("array<string>")).alias(
                    "category_ids"
                ),
            )
        )

    # -- single/multi-doc path (daily update semantics) -----------------------

    def categorise_docs(
        self, rows: list[dict], scored: bool = True, subset: list[str] | None = None
    ) -> list[dict]:
        """Categorise ad-hoc documents doc-at-a-time (reference daily-update,
        CategoriseDocAmazonSqsConsumer.cs:24-91) with GLOBAL BM25 stats
        pulled from the index (df from the dictionary, N/avgdl from
        doc_stats) so single-doc scores match the batch path.

        DRIVER-SIDE by design: this mirrors the reference's doc-at-a-time
        single-doc API and is meant for ad-hoc lists of at most a few
        hundred docs.  It does NOT distribute — for bulk work use
        ``categorise_all`` (whole index) or ``streaming.start_incremental``
        (micro-batched vectorized kernel), both of which scale with the
        cluster."""
        if len(rows) > 1000:
            import warnings

            warnings.warn(
                f"categorise_docs evaluates {len(rows)} docs in a "
                "driver-side Python loop; use categorise_all or the "
                "streaming path for bulk categorisation",
                stacklevel=2,
            )
        pairs = self._category_pairs(subset)
        compiled, virtual, df_map, _buckets, _tids = search_ops.compile_queries(
            self.reader, pairs, self.config
        )
        out = []
        for i, row in enumerate(rows):
            doc = build_oracle_doc(row.get("doc_id", i), row, self.config)
            shim = _GlobalStatsOracle(
                doc, self.config, float(self.reader.n_docs), dict(self.reader.avgdl), df_map
            )
            cats = []
            for cid, _ in pairs:
                ok, score = shim.evaluate(compiled[cid], doc)
                if ok:
                    cats.append({"category_id": cid, "score": score if scored else None})
            cats.sort(key=lambda c: (-(c["score"] or 0.0), c["category_id"]))
            out.append({"doc_id": doc.doc_id, "categories": cats})
        return out

    # -- search API -------------------------------------------------------------

    def search(
        self,
        query_text: str,
        min_score: float = 0.0,
        limit: int = 10,
        offset: int = 0,
        filters: dict[str, list] | None = None,
        sort_by: list[tuple[str, bool]] | None = None,
        fields: list[str] | dict[str, float] | None = None,
    ) -> DataFrame:
        """Ad-hoc scored search with pagination (R8).

        ``filters`` is the non-scoring filter context — column -> allowed
        values over docs metadata, applied BEFORE the top-k cut (mirrors the
        reference's HELD_BY_CODE TermsQuery in filter context,
        OpenSearchConnection.cs:289-299 + Must/Filter split :393-402).
        ``sort_by`` is [(docs-metadata column, ascending)] replacing the
        relevance order (reference SetSortOrder, OpenSearchConnection.cs:304-320).
        ``fields`` routes unscoped clauses across a field list (values are
        per-field boosts when a dict) instead of the single default field —
        the reference's useDefaultTaxonomyField=false path
        (OpenSearchIAViewRepository.PerformSearch:151-186).  A blank query
        matches everything (MatchAllQuery substitution,
        OpenSearchConnection.SetupSearchRequest:252-255)."""
        query_text = self._effective_query(query_text)
        config = self._search_config(fields)
        # filters compile to FILTER-context virtual clauses that prune
        # candidates INSIDE the evaluator (before scoring and before the
        # top-k cut) — a selective filter reduces work, not just output,
        # and the per-band early cut stays on (reference Must/Filter split,
        # OpenSearchConnection.cs:393-402)
        extra = (
            tuple(
                qp.MetaInNode(col, tuple(sorted(vals)))
                for col, vals in sorted(filters.items())
            )
            if filters
            else None
        )
        if sort_by and min_score <= 0.0:
            # bool-mode fast path (the reference's filter-context trick
            # applied to the sort path): a metadata sort REPLACES relevance
            # order and no min_score gate reads scores, so skip BM25
            # entirely — unscored eval (no tf-norm/dl/block-max work), join
            # docs, TakeOrderedAndProject.  Scores report as 0.0, exactly
            # the reference's filter-context scoring contract.
            res = search_ops.run_categories(
                self.spark,
                self.reader,
                [("__q", query_text)],
                scored=False,
                config=config,
                extra_filters=extra,
            ).withColumn("score", F.lit(0.0))
            res = res.join(self.reader.docs(), "doc_id")
            order = [
                (F.asc(c) if asc else F.desc(c)) for c, asc in sort_by
            ] + [F.asc("doc_id")]
            return res.orderBy(*order).limit(offset + limit).select(
                "category_id", "doc_id", "score", *[c for c, _ in sort_by]
            )
        if not sort_by:
            hits = search_ops.run_categories_local(
                self.reader,
                [("__q", query_text)],
                scored=True,
                top_k=offset + limit,
                config=config,
                extra_filters=extra,
            )
            if hits is not None:
                # served in the driver: finish there too (a Spark filter +
                # sort over the rows would cost jobs again)
                hits = hits[hits["score"] >= min_score].sort_values(
                    ["score", "doc_id"], ascending=[False, True], kind="mergesort"
                )
                return search_ops.result_frame(self.spark, hits)
        res = search_ops.run_categories(
            self.spark,
            self.reader,
            [("__q", query_text)],
            scored=True,
            top_k=None if sort_by else offset + limit,
            config=config,
            extra_filters=extra,
        )
        res = res.where(F.col("score") >= min_score)
        if sort_by:
            res = res.join(self.reader.docs(), "doc_id")
            order = [
                (F.asc(c) if asc else F.desc(c)) for c, asc in sort_by
            ] + [F.asc("doc_id")]
            return res.orderBy(*order).limit(offset + limit).select(
                "category_id", "doc_id", "score", *[c for c, _ in sort_by]
            )
        return (
            res.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(offset + limit)
        )

    def search_page(self, query_text: str, min_score: float = 0.0, limit: int = 10, offset: int = 0):
        rows = self.search(query_text, min_score, limit, offset).collect()
        return rows[offset : offset + limit]

    def count(self, query_text: str) -> int:
        pairs = [("__q", self._effective_query(query_text))]
        hits = search_ops.run_categories_local(self.reader, pairs, scored=False)
        if hits is not None:
            return len(hits)
        return search_ops.run_categories(
            self.spark, self.reader, pairs, scored=False
        ).count()

    @staticmethod
    def _effective_query(query_text: str) -> str:
        """Blank API query -> match-all (the reference substitutes
        MatchAllQuery, OpenSearchConnection.SetupSearchRequest:252-255)."""
        return query_text if query_text and query_text.strip() else "*:*"

    def _search_config(
        self, fields: list[str] | dict[str, float] | None
    ) -> EngineConfig:
        if not fields:
            return self.config
        import dataclasses

        pairs = (
            tuple((f, float(b)) for f, b in fields.items())
            if isinstance(fields, dict)
            else tuple((f, 1.0) for f in fields)
        )
        return dataclasses.replace(self.config, multi_fields=pairs)

    def facets(
        self,
        column: str,
        limit: int = 100,
        query_text: str | None = None,
    ) -> DataFrame:
        """Terms aggregation over a docs-table metadata column (R10).

        With ``query_text``, counts are computed over the QUERY'S match set
        — the reference attaches terms aggregations to the search request
        (OpenSearchConnection.SetupFacets:322-336), so facets reflect the
        current result set, not the whole corpus.  The match set comes from
        the unscored eval (no BM25 work) and semi-joins the docs scan.
        A small index counts in the driver, over its snapshot's docs."""
        query = (
            self._effective_query(query_text) if query_text is not None else "*:*"
        )
        pairs = [("__f", query)]
        snap = self.reader.snapshot()
        if snap is not None and column in snap.docs.column_names:
            if query == "*:*":
                return self._facets_local(snap.docs, column, limit)
            hits = search_ops.run_categories_local(self.reader, pairs, scored=False)
            if hits is not None:
                docs = snap.docs.filter(
                    pc.is_in(snap.docs["doc_id"], pa.array(hits["doc_id"].to_numpy()))
                )
                return self._facets_local(docs, column, limit)
        docs = self.reader.docs()
        if query != "*:*":
            matches = search_ops.run_categories(
                self.spark, self.reader, pairs, scored=False
            )
            docs = docs.join(
                matches.select("doc_id").distinct(), "doc_id", "semi"
            )
        return (
            docs.groupBy(column)
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc(column))
            .limit(limit)
        )

    def _facets_local(self, docs: pa.Table, column: str, limit: int) -> DataFrame:
        """The Spark facets' answer over driver-held docs: count per value,
        ordered by count desc then value asc with nulls first (Spark's
        ascending order), keeping the column's type."""
        agg = docs.group_by(column).aggregate([([], "count_all")])
        counts = pa.table({column: agg[column], "count": agg["count_all"]})
        order = pc.sort_indices(
            counts,
            sort_keys=[("count", "descending"), (column, "ascending")],
            null_placement="at_start",
        )
        return self.spark.createDataFrame(counts.take(order).slice(0, limit))

    # -- results sink -------------------------------------------------------------

    @staticmethod
    def _results_bucket(nb: int):
        return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(nb))

    def _results_part(self, bucket: int, snap: int) -> str:
        cat = self.reader.cat
        return f"{cat.root}/{IndexCatalog.RESULTS_PARTS}/v{snap}/bucket={bucket}"

    def save_results(self, per_doc: DataFrame) -> None:
        """ATOMIC idempotent upsert of (doc_id, category_ids) into the
        results table — merge-by-key emulation of the reference's bulk
        doc-as-upsert (OpenSearchIAViewUpdateRepository.SaveAll:49-70; on a
        real catalog this is Iceberg ``MERGE INTO results USING new ON
        doc_id WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT``).

        The table is doc_id-hash BUCKETED (``results_parts/v<snap>/
        bucket=<b>``; config.n_results_buckets, pinned in the manifest at
        first save) and a save rewrites ONLY the buckets its batch touches
        — the file-pruning ``MERGE`` does on a real catalog.  A daily
        micro-batch therefore costs O(batch + touched_buckets x
        table/n_buckets) I/O, not O(table) (the round-3 S8 scale flag).

        Snapshot protocol (mirrors Iceberg's): touched buckets are written
        under a NEW snapshot directory, then ONE manifest write flips their
        bucket->snapshot pointers atomically (tmp-file + ``os.replace``).
        A crash at any point leaves every bucket's previous version live;
        superseded per-bucket dirs are GC'd after the commit."""
        import shutil

        cat = self.reader.cat
        nb = int(
            cat.get_meta("n_results_buckets")
            or self.config.n_results_buckets
        )
        bmap = cat.results_buckets()
        snap = cat.next_results_snapshot()
        per_doc = per_doc.select("doc_id", "category_ids")
        batch_buckets = sorted(
            int(r["b"])
            for r in per_doc.select(
                self._results_bucket(nb).alias("b")
            ).distinct().collect()
        )
        have = [b for b in batch_buckets if b in bmap]
        existing = (
            self.spark.read.parquet(
                *[self._results_part(b, bmap[b]) for b in have]
            )
            if have
            else None
        )
        merged = (
            existing.join(per_doc.select("doc_id"), "doc_id", "left_anti")
            .unionByName(per_doc)
            if existing is not None
            else per_doc
        )
        # one dynamic-partition write produces every touched bucket dir
        snap_dir = Path(f"{cat.root}/{IndexCatalog.RESULTS_PARTS}/v{snap}")
        merged.withColumn("bucket", self._results_bucket(nb)).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(str(snap_dir))
        # touched = the bucket dirs the write actually produced
        touched = sorted(
            int(d.name.split("=", 1)[1])
            for d in snap_dir.glob("bucket=*")
            if d.is_dir()
        )
        # ONE atomic pointer flip for all touched buckets; superseded
        # versions enter the retained-snapshot horizon (Iceberg snapshot
        # expiration): only versions more than config.
        # results_snapshot_retention saves behind fall out as GC victims,
        # so a DataFrame from ``results()`` taken before this save can
        # still collect (its lazy file listing survives the horizon) —
        # round-4 review: immediate GC raced concurrent readers.
        superseded = {
            b: bmap[b] for b in touched if b in bmap and bmap[b] != snap
        }
        victims = cat.commit_results_buckets(
            {b: snap for b in touched},
            nb,
            superseded=superseded,
            keep=max(0, int(self.config.results_snapshot_retention)),
        )
        for b, old in victims:  # GC only beyond the retention horizon
            shutil.rmtree(self._results_part(b, old), ignore_errors=True)

    def results(self) -> DataFrame:
        cat = self.reader.cat
        bmap = cat.results_buckets()
        if not bmap:
            raise FileNotFoundError("no committed results snapshot")
        return self.spark.read.parquet(
            *[self._results_part(b, v) for b, v in sorted(bmap.items())]
        )


class _GlobalStatsOracle(OracleIndex):
    """Doc-at-a-time evaluator with stats injected from the global index."""

    def __init__(self, doc, config, n_docs, avgdl, df_map):
        self.docs = [doc]
        self.config = config
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.df = dict(df_map)
        self.terms_by_field = {}

    def evaluate(self, node, doc):  # wildcard/ranges arrive pre-expanded
        if isinstance(node, search_ops.ExpandedTermsNode):
            doc_terms = doc.fields.get(node.field, {})
            # distributed expansions carry no term list (terms=None) — the
            # source-construct fallback below re-expands per doc
            hit = any(t in doc_terms for t in (node.terms or ()))
            if not hit and node.source is not None:
                # ad-hoc docs may contain matching terms the index never saw
                self.terms_by_field = {node.field: sorted(doc_terms)}
                hit, _ = OracleIndex.evaluate(self, node.source, doc)
            return hit, 1.0 if hit else 0.0
        if isinstance(node, search_ops.ExpandedFuzzyNode):
            # re-expand the ORIGINAL fuzzy construct over the union of the
            # global expansion and the ad-hoc doc's own vocabulary (the
            # reference expands against the transient per-doc index, so
            # terms the global dictionary never saw must still match);
            # global terms keep their global df, unseen terms score df=0
            doc_terms = doc.fields.get(node.field, {})
            vocab = sorted(set(node.terms) | set(doc_terms))
            self.terms_by_field = {node.field: vocab}
            for t in vocab:
                self.df.setdefault((node.field, t), 0)
            return OracleIndex.evaluate(self, node.source, doc)
        if isinstance(node, search_ops.VirtualDocsNode):
            # metadata clauses for ad-hoc docs: evaluate the original
            # Int/Id clause against the doc's own metadata (the compiled
            # node keeps it as ``source``)
            return OracleIndex.evaluate(self, node.source, doc)
        if isinstance(node, qp.BoolNode):
            return OracleIndex.evaluate(self, node, doc)
        if isinstance(node, qp.PhraseNode):
            # df may be missing for absent terms -> df 0 (same as engine)
            for slot in node.slots:
                for t in slot:
                    self.df.setdefault((node.field, t), 0)
            return OracleIndex.evaluate(self, node, doc)
        if isinstance(node, qp.TermNode):
            self.df.setdefault((node.field, node.term), 0)
            return OracleIndex.evaluate(self, node, doc)
        if isinstance(node, qp.OrTermsNode):
            for t in node.terms:
                self.df.setdefault((node.field, t), 0)
            return OracleIndex.evaluate(self, node, doc)
        return OracleIndex.evaluate(self, node, doc)
