"""Engine configuration.

Mirrors the reference's ``CategoriserLuceneParams`` / ``appsettings.json``
surface (default taxonomy field, query fields, batch sizes) re-expressed for
a Spark engine (reference: ``NationalArchives.Taxonomy.Batch/appsettings.json:104-133``,
``Taxonomy.Common/Domain/Repository/Lucene/LuceneHelperTools.cs:186-273``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Analyzer names — mirror OpenSearchFieldConstants
# (reference: Taxonomy.Common/Domain/Repository/Elastic/OpenSearchFieldConstants.cs:19-22).
TEXT_GEN = "text_gen"
TEXT_CAS_PUNC = "textcaspunc"
TEXT_CAS_NO_PUNC = "textcasnopunc"
TEXT_NO_CAS_NO_PUNC = "textnocasnopunc"

BM25_K1 = 1.2
BM25_B = 0.75

#: posting-list block size (docs per block); per-block (max_docid, max_norm)
#: metadata drives block-max pruning at query time.
BLOCK_SIZE = 128


@dataclass(frozen=True)
class FieldSpec:
    """One indexed field: which analyzer, which source columns feed it.

    Emulates Elasticsearch ``copy_to`` — the reference copies a gated set of
    document fields into one catch-all field named after the active analyzer
    (reference: InMemoryCategoriserRepository.cs:209-313).  Source columns are
    joined with a single space before tokenization (positionIncrementGap=0 in
    the reference, so values are position-adjacent).
    """

    name: str
    analyzer: str
    source_columns: tuple[str, ...]


@dataclass(frozen=True)
class EngineConfig:
    """Configuration for index build + query evaluation over the corpus table.

    The corpus is an Iceberg/parquet table of source-code rows
    ``(repo, path, commit, lang, content)``; ``doc_id`` is derived as
    ``xxhash64(repo, path, commit)`` (deterministic, shuffle-free).  At true
    10^12-row scale a 64-bit hash id collides (~n^2/2^65); swap to the
    128-bit variant (two-column id) via ``doc_id_bits=128`` there.
    """

    default_field: str = TEXT_NO_CAS_NO_PUNC
    fields: tuple[FieldSpec, ...] = (
        # default catch-all: content + path (path stands in for CatDocRef
        # copy_to; reference InMemoryCategoriserRepository.cs:308-311)
        FieldSpec(TEXT_NO_CAS_NO_PUNC, TEXT_NO_CAS_NO_PUNC, ("content", "path")),
        FieldSpec(TEXT_CAS_NO_PUNC, TEXT_CAS_NO_PUNC, ("content",)),
        FieldSpec(TEXT_CAS_PUNC, TEXT_CAS_PUNC, ("content",)),
        # field-scoped reference-code queries: CATDOCREF:"WO 372" — routed to
        # a separately indexed field over `path` (our corpus' catalogue ref)
        FieldSpec("CATDOCREF", TEXT_NO_CAS_NO_PUNC, ("path",)),
    )
    #: integer metadata columns queryable with numeric ranges
    #: (reference: Int32Field NUM_START_DATE/NUM_END_DATE/SOURCE,
    #: InMemoryCategoriserRepository.cs:236-244).
    int_fields: tuple[str, ...] = ("NUM_START_DATE", "NUM_END_DATE", "SOURCE")

    #: multi-field query-string routing: when set, every clause without an
    #: explicit FIELD: scope is searched across these (field, boost) pairs
    #: and combined per-clause as dis-max (OpenSearch ``query_string`` with
    #: a ``Fields`` list, default ``best_fields`` —
    #: OpenSearchConnection.SetupSearchRequest:236-251).  None -> the single
    #: ``default_field`` (reference useDefaultTaxonomyField=true path).
    multi_fields: tuple[tuple[str, float], ...] | None = None
    #: dis-max tie breaker: score = max + tie * (sum - max)
    multi_field_tie_breaker: float = 0.0

    k1: float = BM25_K1
    b: float = BM25_B
    block_size: int = BLOCK_SIZE

    #: number of term-hash buckets the postings and dictionary are
    #: partitioned into.  The build writes every bucket in one job and
    #: commits each to the manifest (resume reruns the whole postings
    #: stage); a compaction streams one bucket dir at a time, so its driver
    #: memory is bounded per bucket, not by the index.
    n_term_buckets: int = 8
    #: auto-compaction policy (Lucene segment-merge-trigger analogue):
    #: ``TaxonomyEngine.maybe_compact`` folds append deltas into the main
    #: tables once this many batches accumulate (or the optional bytes
    #: threshold trips).  Default from the MEASURED warm-query latency
    #: curve vs uncompacted-delta count (tools/delta_latency.py on the
    #: 250k index, BENCH.md round 4): p50 0.78 s at 0 deltas, 0.96 s at
    #: 10, 1.29 s at 50 — ~+1%/delta, no cliff.  16 holds p50 within
    #: ~15-20% of the compacted floor while amortizing the generation
    #: rewrite over 16 appends.
    compact_after_batches: int = 16
    #: absolute byte trigger (optional): compact once accumulated delta
    #: bytes cross this, regardless of batch count.  Off by default — the
    #: scale-free RATIO trigger below is the armed default.
    compact_after_delta_bytes: int | None = None
    #: scale-free byte trigger (armed by default): compact when accumulated
    #: delta bytes reach this fraction of the MAIN postings bytes (from the
    #: manifest's per-bucket lineage — no directory walk).  Guards the
    #: few-but-huge-deltas case the batch counter misses, without the
    #: absolute threshold's failure mode of forcing a full generation
    #: rewrite every fixed N bytes on an arbitrarily large index.  0.25
    #: bounds the uncompacted overlay at ~20% of the read set (the
    #: delta-latency curve, tools/delta_latency.py, is ~linear in overlay
    #: size: ~+1%/delta at equal-size deltas) while amortizing each rewrite
    #: over >=25% new data — the classic log-merge amortization bound.
    compact_after_delta_ratio: float | None = 0.25
    #: doc_id-hash buckets of the RESULTS table: a save rewrites only the
    #: buckets its batch touches (engine.save_results), so bucket count
    #: bounds per-save I/O at ~touched_buckets x (table_bytes / n).  Size it
    #: to ~target-file-size shards of the deployed results table (a 10^12-
    #: row table wants 10^4-10^5 buckets); bound once at first save, then
    #: pinned in the manifest so later configs can't shear the layout.
    n_results_buckets: int = 64
    #: results snapshot retention (Iceberg snapshot-expiration analogue):
    #: a superseded per-bucket results dir is GC'd only after this many
    #: FURTHER saves touch the same bucket, so concurrent readers holding
    #: a ``results()`` DataFrame across a save still collect correctly.
    #: 0 = GC immediately (single-reader deployments).
    results_snapshot_retention: int = 2
    #: terms with df above this many postings are salted across doc_id-range
    #: splits so no single build task holds a stopword-class posting list.
    salt_target_postings: int = 250_000
    #: max salts per heavy term.
    max_salts: int = 64

    #: doc_id-range bands used to shard per-category evaluation at query
    #: time (1 in local tests; O(#executors) on a cluster).
    n_eval_bands: int = 1

    #: optional per-construct cap on DISTRIBUTED wildcard/term-range
    #: expansions (deterministic keep: term_id asc; truncation is logged) —
    #: Lucene's maxClauseCount analogue for the constant-score rewrite.
    #: None (default) expands exactly, matching reference semantics.
    max_term_expansions: int | None = None

    #: categories evaluated per (chunk, band) task — a chunk's categories
    #: share one decoded-postings cache, and a term shared by the chunk's
    #: categories ships through the eval shuffle once per CHUNK.  Eval
    #: parallelism = ceil(#categories/chunk) x n_eval_bands; duplication
    #: cost = #chunks for shared terms.  68 (2 chunks for the 136-category
    #: fixture) measured fastest at 16 bands (bool 8.8s vs 21.4s for one
    #: chunk at 50k/32c: one chunk leaves eval parallelism = bands alone,
    #: which undersubscribes the cluster; many chunks re-ship every shared
    #: term per chunk).
    eval_chunk_size: int = 68

    #: (retired) read by nothing: the postings build is one Spark job for
    #: every bucket, so no per-bucket job loop is left for this to size.
    #: Kept so callers that still pass it construct unchanged.
    build_parallelism: int = 4

    #: (retired round 2) the postings build no longer joins the dictionary
    #: at all: blocks store the df-independent ``max_norm`` (idf folds in
    #: at query time from the dictionary's df) and salting joins only the
    #: bounded heavy-term map (≤ total_postings/salt_target rows), which
    #: broadcasts at any corpus scale.

    def field_spec(self, name: str) -> FieldSpec | None:
        for f in self.fields:
            if f.name == name:
                return f
        return None

    @property
    def field_names(self) -> tuple[str, ...]:
        return tuple(f.name for f in self.fields)


DEFAULT_CONFIG = EngineConfig()


def simple_config(default_only: bool = True) -> EngineConfig:
    """Config with just the default analyzer field over ``content`` —
    used by unit tests that don't exercise field routing."""
    return EngineConfig(
        fields=(FieldSpec(TEXT_NO_CAS_NO_PUNC, TEXT_NO_CAS_NO_PUNC, ("content",)),)
    )
