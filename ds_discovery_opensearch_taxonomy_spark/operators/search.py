"""Query evaluation over the persistent inverted index.

Spark re-plan of the reference's query path (per-category
``searcher.Search(query, batchSize)`` over a transient RAMDirectory,
InMemoryCategoriserRepository.cs:86-121,365-454; msearch fan-out
OpenSearchConnection.cs:170-212):

1. driver: parse + analyze the category queries once (mirrors the
   reference's static parsed-query cache, :337-363), expand wildcards /
   term ranges / fuzzy terms and pull df for exactly the terms the queries
   need.  A small index answers these lookups from a driver snapshot of
   its dictionary, docs and docmap (``DriverSnapshot``, held when their
   files take at most ``LOCAL_SNAPSHOT_MAX_BYTES``); a larger one runs
   them as dictionary jobs, with wildcard / range constructs expanded
   distributed;
2. fetch posting blocks for those (field, term) keys, by one of two
   fetchers feeding the same kernel:
   * Spark: broadcast semi-join + term-bucket partition pruning, so the
     scan touches only the buckets hosting query terms;
   * driver: a call compiled against the snapshot whose blocks hold at
     most ``LOCAL_MAX_POSTINGS`` postings reads them with pyarrow (bucket
     pruning, term_id row-group filter) and builds its metadata blocks
     from the snapshot's docs.  It runs no Spark job, and it evaluates
     when ``run_categories`` is called, not at the action;
3. tag blocks with the categories needing them, group by
   ``(chunk, band)`` (bands = doc_id-prefix ranges, exact because blocks
   never cross band boundaries) and evaluate each group in ONE kernel,
   :func:`eval_group` — an Arrow UDF on the Spark side, a plain call in
   the driver — with NumPy sorted-set algebra (union/intersect/andnot),
   positional phrase matching, and BM25 scoring;
4. scored top-k mode uses block-max dynamic pruning (MaxScore/WAND family):
   terms processed in descending max-score-upper-bound order; once the
   running k-th score exceeds the remaining upper-bound mass, later terms
   only update existing candidates (galloping intersect) and blocks outside
   the candidate range or below the lift threshold are skipped undecoded.

Numeric-range / id clauses evaluate against the docs table as "virtual
postings" (constant-score doc-id sets, Lucene's constant-score rewrite).
"""

from __future__ import annotations

import bisect
import dataclasses
import os
import re
import threading
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.functions import codec, scoring
from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import _ragged_gather
from ds_discovery_opensearch_taxonomy_spark.operators import index_append
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import expand_fuzzy
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("category_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


class IndexReader:
    """Handle on a built index: stats, dictionary expansion, block fetch."""

    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self.cat = IndexCatalog(index_dir)
        self.cat.require_format()
        # prune direct-write files from attempts the committed manifest
        # doesn't know (zombie speculative renames after the post-job
        # sweep) BEFORE any scan binds to the directory listing
        from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
            reconcile_from_manifest,
        )

        reconcile_from_manifest(self.cat)
        #: ONE manifest read binds every table this reader opens: the
        #: generation dirs and committed delta batches recorded here are
        #: the ones its stats, Spark views and driver snapshot all read
        m = self.cat.manifest()
        self._paths = {
            t: self.cat.path(t, manifest=m) for t in _SNAPSHOT_PATH_TABLES
        }
        self._delta_seqs = self.cat.delta_seqs(m)
        # the 4-row stats file is read in the driver: a Spark read of it
        # cost a footer-inference job plus a collect job on every refresh()
        stats = pq.read_table(self._paths[IndexCatalog.DOC_STATS]).to_pylist()
        self.n_docs = int(stats[0]["n_docs"]) if stats else 0
        self.avgdl = {r["field"]: float(r["avgdl"]) for r in stats}
        meta = m["meta"]
        #: band layout is the INDEX's property (recorded at build)
        self.band_bits = int(meta["band_bits"])
        #: width of the dense ordinal space — with band_bits it fixes the
        #: ord -> band mapping (band = ord >> ord_shift); an index property
        self.ord_bits = int(meta["ord_bits"])
        self.ord_shift = max(self.ord_bits - self.band_bits, 0)
        #: block-max bounds are encoded with the BUILD-TIME avgdl; appends
        #: drift the live avgdl, and tf_norm is monotone in avgdl with
        #: ratio <= live/encoded — multiplying bounds by this per-field
        #: factor keeps dynamic pruning exact under drift
        enc = meta["encode_avgdl"]
        self.norm_safety = {
            f: max(1.0, v / float(enc[f])) if enc.get(f) else 1.0
            for f, v in self.avgdl.items()
        }
        #: compile_queries results per (categories, config) — the index a
        #: reader points at is immutable, so expansions/df never go stale
        #: (mirrors the reference's static parsed-query cache,
        #: InMemoryCategoriserRepository.cs:30,337-363).  LRU-bounded: a
        #: long-lived reader serving varied ad-hoc queries must not grow
        #: without bound.
        from collections import OrderedDict

        self.compile_cache: OrderedDict = OrderedDict()
        self.compile_cache_max = 64
        #: (category_id, query_text) -> (node, df/bucket/tid map refs) —
        #: populated by every batch compile, so a later SINGLE-category
        #: compile (the API search / bench per-query path) reuses the 136-
        #: batch's dictionary job instead of launching its own (the compile
        #: job was ~0.5-1 s of a single query's ~1.3 s).  Values reference
        #: the batch maps (supersets are harmless: bucket/tid lookups are
        #: keyed by the query's own needed terms).
        self.percat_cache: OrderedDict = OrderedDict()
        self.percat_cache_max = 1024
        #: run_categories' routing per (categories, config, filters)
        self._call_cache: OrderedDict = OrderedDict()
        #: per-(virtual key, band_bits) materialized+persisted block DFs —
        #: a metadata clause's doc set is immutable for this index snapshot,
        #: so each clause pays its docs-table scan once per reader, not once
        #: per query run.  LRU-bounded with unpersist-on-evict: the API's
        #: extra_filters path inserts one entry per DISTINCT filter clause,
        #: so a long-lived reader serving varied filters must not accumulate
        #: persisted storage until refresh().
        self._virtual_cache: OrderedDict = OrderedDict()
        self._virtual_cache_max = 64
        #: repr(construct) -> ExpansionInfo: DISTRIBUTED wildcard/term-range
        #: expansions (term_id DataFrame + bounded driver stats), cached per
        #: reader — see expand_constructs
        self.expansion_cache: dict[str, ExpansionInfo] = {}
        self._expansion_persists: list = []
        #: driver-held copy of the small tables (see snapshot()); loaded on
        #: first use, not here — every append's refresh() opens a reader
        self._snapshot: DriverSnapshot | None = None
        self._snapshot_checked = False
        self._snapshot_lock = threading.Lock()

    # -- tables -------------------------------------------------------------
    # all four read through the live views (operators/index_append.py):
    # they fold in committed deltas, if any, and read with explicit
    # schemas, so building one starts no footer-inference job

    def dictionary(self) -> DataFrame:
        """Term dictionary (field, term, term_id, df, cf, bucket) — persisted
        per reader: every compile does a lookup pass over it, and the table
        is ~|vocab| rows (executors cache their slices; spills to disk at
        real vocabulary scale)."""
        if not hasattr(self, "_dictionary_df"):
            self._dictionary_df = index_append.dictionary_view(
                self.spark, self.cat, self.config
            ).persist()
        return self._dictionary_df

    def postings(self) -> DataFrame:
        """Posting blocks — the DataFrame OBJECT is cached per reader: a
        fresh spark.read.parquet resolves sources + reads footers on every
        call (~80 ms), which dominated warm single-query latency.  The
        index snapshot a reader binds to is immutable, so reuse is safe."""
        if not hasattr(self, "_postings_df"):
            self._postings_df = index_append.postings_view(self.spark, self.cat)
        return self._postings_df

    def docs(self) -> DataFrame:
        if not hasattr(self, "_docs_df"):
            self._docs_df = index_append.docs_view(self.spark, self.cat)
        return self._docs_df

    def docmap(self) -> DataFrame:
        """Per-band packed sidecars (band, ford, blk_seq, n, payload):
        ford == -1 rows hold ord -> doc_id arrays, ford == k rows field k's
        per-doc lengths, ford == -2 tombstoned ords (appends).  Persisted
        per reader — every query run ships these into its eval tasks, and
        the table is ~16 bytes/doc."""
        if not hasattr(self, "_docmap_df"):
            self._docmap_df = index_append.docmap_view(
                self.spark, self.cat
            ).persist()
        return self._docmap_df

    def snapshot(self) -> "DriverSnapshot | None":
        """The reader's dictionary, live docs and docmap held in the
        driver, or None when their files take more than
        ``LOCAL_SNAPSHOT_MAX_BYTES`` on disk.  Loaded once, on the first
        call, under a lock: concurrent API requests share one reader."""
        if not self._snapshot_checked:
            with self._snapshot_lock:
                if not self._snapshot_checked:
                    self._snapshot = DriverSnapshot.load(
                        self._paths, self._delta_seqs
                    )
                    self._snapshot_checked = True
        return self._snapshot

    def unpersist(self) -> None:
        """Release this reader's cached tables (engine.refresh())."""
        with self._snapshot_lock:
            self._snapshot = None
            self._snapshot_checked = False
        for attr in ("_dictionary_df", "_docmap_df"):
            df = getattr(self, attr, None)
            if df is not None:
                df.unpersist()
        for df in self._virtual_cache.values():
            df.unpersist()
        self._virtual_cache.clear()
        for df in self._expansion_persists:
            df.unpersist()
        self._expansion_persists.clear()
        self.expansion_cache.clear()
        for df in getattr(self, "_terms_df_cache", {}).values():
            df.unpersist()
        if hasattr(self, "_terms_df_cache"):
            self._terms_df_cache.clear()
        for bcasts in getattr(self, "_bcast_cache", {}).values():
            for b_ in bcasts:
                b_.unpersist()
        if hasattr(self, "_bcast_cache"):
            self._bcast_cache.clear()

    # -- dictionary expansion -------------------------------------------------

    @staticmethod
    def construct_condition(node: qp.Node):
        """Dictionary-row predicate of a multi-term construct (wildcard /
        term range).  Regex only where string ops can't answer: a Java
        regex match costs ~100x a startswith, and constructs x |vocab| row
        evals dominate compile time — ``abc*`` -> startswith; any literal
        prefix short-circuits the regex for the non-matching bulk."""
        if isinstance(node, qp.WildcardNode):
            pat = node.pattern
            head = re.match(r"[^*?]*", pat).group(0)
            c = F.col("field") == node.field
            if head == pat:  # no wildcard chars: exact equality
                return c & (F.col("term") == pat)
            if pat == head + "*":
                return c & F.col("term").startswith(head)
            if head:
                c = c & F.col("term").startswith(head)
            return c & F.col("term").rlike(_wildcard_regex(pat))
        if isinstance(node, qp.TermRangeNode):
            c = F.col("field") == node.field
            if node.lo is not None:
                c = c & (
                    F.col("term") >= node.lo
                    if node.inc_lo
                    else F.col("term") > node.lo
                )
            if node.hi is not None:
                c = c & (
                    F.col("term") <= node.hi
                    if node.inc_hi
                    else F.col("term") < node.hi
                )
            return c
        raise TypeError(type(node))  # pragma: no cover

    def expand_constructs(
        self, nodes: set[qp.Node], config: EngineConfig
    ) -> dict[str, "ExpansionInfo"]:
        """DISTRIBUTED wildcard / term-range expansion — the matching terms
        NEVER collect to the driver (Lucene enumerates matching terms
        segment-side; a leading ``c*`` on a 10^12-file corpus can match
        10^8-10^9 vocabulary terms, a multi-GB collect in the round-2
        design).  One dictionary scan per compile tags each matching row
        with every construct it matched (one row per (term, construct) —
        overlapping patterns each get the term); the per-construct slices
        persist per reader (the index snapshot is immutable), and the
        driver sees only BOUNDED aggregates: per-construct match count +
        hosting-bucket set (<= n_term_buckets values).

        ``config.max_term_expansions`` optionally caps each construct
        (deterministic keep: term_id asc) with a logged truncation —
        Lucene's maxClauseCount analogue for the constant-score rewrite;
        default None preserves exact reference semantics."""
        missing = sorted(
            {n for n in nodes if repr(n) not in self.expansion_cache},
            key=repr,
        )
        if missing:
            tagged = []
            conds = None
            for node in missing:
                c = self.construct_condition(node)
                tagged.append(F.when(c, F.lit(repr(node))))
                conds = c if conds is None else (conds | c)
            exp = (
                self.dictionary()
                .where(conds)
                .select(
                    "term_id",
                    "bucket",
                    F.explode(F.array_compact(F.array(*tagged))).alias("ckey"),
                )
            )
            cap = getattr(config, "max_term_expansions", None)
            if cap:
                from pyspark.sql import Window

                w = Window.partitionBy("ckey").orderBy("term_id")
                exp = (
                    exp.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= int(cap))
                    .drop("_rn")
                )
            exp = exp.persist()
            self._expansion_persists.append(exp)
            # driver-side rows are BOUNDED: one per construct (counts +
            # distinct buckets), never one per matching term
            stats = {
                r["ckey"]: (int(r["n"]), tuple(sorted(r["buckets"])))
                for r in exp.groupBy("ckey")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.collect_set("bucket").alias("buckets"),
                )
                .collect()
            }
            import logging

            log = logging.getLogger(__name__)
            for node in missing:
                ckey = repr(node)
                n, buckets = stats.get(ckey, (0, ()))
                if cap and n >= int(cap):
                    log.warning(
                        "construct %s expansion truncated at %d terms "
                        "(max_term_expansions)", ckey, n,
                    )
                self.expansion_cache[ckey] = ExpansionInfo(
                    n_terms=n,
                    buckets=buckets,
                    parent=exp,
                )
        return {repr(n): self.expansion_cache[repr(n)] for n in nodes}

    def lookup_dictionary(
        self,
        exact: set[tuple[str, str]],
        fuzzies: set[qp.FuzzyNode],
    ) -> tuple[dict, dict, dict, dict]:
        """The BOUNDED compile-time lookups of a reader without a driver
        snapshot: exact-term df/bucket/term_id fetch and fuzzy expansion,
        in one collected dictionary query (the persisted dictionary costs
        its own jobs on first use).  A reader with a snapshot answers the
        same lookups in the driver (:meth:`DriverSnapshot.lookup`) and runs
        no job.  (Wildcard / term-range constructs expand DISTRIBUTED here
        — see :meth:`expand_constructs`; their matching terms never reach
        the driver.)  Compile latency is job-count-bound, so both lookups
        share a single scan.

        Fuzzy distances run JVM-side (``F.levenshtein`` with the early-exit
        threshold); expansions are capped DISTRIBUTED at
        ``_MAX_FUZZY_EXPANSIONS`` per construct, ordered (distance asc,
        term asc) — the collect is bounded by 50 x |fuzzy constructs| —
        with boost ``1 - d / min(len(query_term), len(term))``
        (FuzzyTermsEnum's boost; plain Levenshtein pinned in
        :class:`~...queryparser.FuzzyNode`).

        Returns ``(df_map, bucket_map, tid_map, fuzzy_map)``; the first
        three cover every collected row (exact AND fuzzy hits — fuzzy
        terms need global df for scoring too)."""
        empty: tuple = ({}, {}, {}, {})
        if not (exact or fuzzies):
            return empty
        from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
            term_id_of,
        )

        out_cols = [
            "field", "term", "df", "bucket", "term_id",
            F.col("m.k").alias("k"), F.col("m.d").alias("d"),
        ]
        parts = []
        if exact:
            # exact terms fetch by NUMERIC key: term_id is a driver-side
            # hash of (field, term), so a broadcast hash join on a long
            # column replaces a giant IN-list literal (which Catalyst
            # evaluates as an O(|list|) per-row scan — ~6x slower here)
            tids = sorted({term_id_of(f, t) for f, t in exact})
            tdf = self.spark.createDataFrame(
                [(t,) for t in tids], "term_id long"
            )
            parts.append(
                self.dictionary()
                .join(F.broadcast(tdf), "term_id")
                .select(
                    "field", "term", "df", "bucket", "term_id",
                    F.struct(
                        F.lit("e").alias("k"), F.lit(-1).alias("d")
                    ).alias("m"),
                )
                .select(*out_cols)
            )
        fuzzy_keys = {}
        if fuzzies:
            conds = None
            tagged = []
            for i, node in enumerate(
                sorted(fuzzies, key=lambda n: (n.field, n.term, n.max_edits))
            ):
                fuzzy_keys[f"f\x00{i}"] = node
                lev = F.levenshtein(
                    F.col("term"), F.lit(node.term), node.max_edits
                )
                c = (F.col("field") == node.field) & (lev >= 0)
                tagged.append(
                    F.when(
                        c,
                        F.struct(
                            F.lit(f"f\x00{i}").alias("k"), lev.alias("d")
                        ),
                    )
                )
                conds = c if conds is None else (conds | c)
            from pyspark.sql import Window

            fz = (
                self.dictionary()
                .where(conds)
                .select(
                    "field", "term", "df", "bucket", "term_id",
                    F.explode(F.array_compact(F.array(*tagged))).alias("m"),
                )
                .select(*out_cols)
            )
            # cap BEFORE the collect so the driver never sees more than 50
            # candidates per construct even against a huge vocabulary
            wf = Window.partitionBy("k").orderBy("d", "term")
            fz = (
                fz.withColumn("_rn", F.row_number().over(wf))
                .where(F.col("_rn") <= _MAX_FUZZY_EXPANSIONS)
                .drop("_rn")
            )
            parts.append(fz)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        rows = df.collect()
        df_map: dict[tuple[str, str], int] = {}
        bucket_map: dict[tuple[str, str], int] = {}
        tid_map: dict[tuple[str, str], int] = {}
        fuzzy_hits: dict[qp.FuzzyNode, list[tuple[int, str]]] = {
            n: [] for n in fuzzies
        }
        for r in rows:
            ft = (r["field"], r["term"])
            df_map[ft] = int(r["df"])
            bucket_map[ft] = int(r["bucket"])
            tid_map[ft] = int(r["term_id"])
            k = r["k"]
            if k[0] == "f":
                fuzzy_hits[fuzzy_keys[k]].append((int(r["d"]), r["term"]))
        fuzzy_map: dict[qp.FuzzyNode, tuple[tuple[str, float], ...]] = {}
        for node, matches in fuzzy_hits.items():
            matches = sorted(matches)[:_MAX_FUZZY_EXPANSIONS]
            fuzzy_map[node] = tuple(
                (t, 1.0 - d / min(len(node.term), len(t)) if d else 1.0)
                for d, t in matches
            )
        return df_map, bucket_map, tid_map, fuzzy_map


# --------------------------------------------------------------------------
# Driver-side helpers: sorted-vocabulary expansion and metadata masks, shared
# by the driver snapshot and the stream batch's in-memory index
# --------------------------------------------------------------------------


def _wildcard_regex(pattern: str) -> str:
    """A wildcard pattern as an anchored regex; Python's ``re`` and Spark's
    ``rlike`` (Java) read the escaped literals alike."""
    return (
        "^"
        + "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in pattern
        )
        + "$"
    )


@lru_cache(maxsize=4096)
def _wild_rx(pattern: str):
    return re.compile(_wildcard_regex(pattern))


def _prefix_successor(prefix: str) -> str | None:
    """Smallest string greater than every string starting with ``prefix``:
    increment the last code point, dropping trailing U+10FFFF code points
    (which have no successor).  None means "no upper bound".  A sentinel
    like ``prefix + chr(0xFFFF)`` is WRONG: supplementary-plane characters
    (emoji, CJK extensions) sort above U+FFFF and would be silently
    excluded from the bisect range."""
    s = prefix.rstrip("\U0010FFFF")
    if not s:
        return None
    return s[:-1] + chr(ord(s[-1]) + 1)


def _expand_wildcard(vocab: list[str], pattern: str) -> list[str]:
    """Wildcard expansion over a SORTED vocabulary: any literal prefix
    narrows the candidates to a bisect range first (the regex then runs
    over dozens of terms, not the whole vocabulary — same trick as the
    dictionary lookup's pushed prefix filter); a pure-prefix pattern needs
    no regex at all."""
    i = len(pattern)
    for c in "*?":
        j = pattern.find(c)
        if j != -1:
            i = min(i, j)
    prefix = pattern[:i]
    lo = bisect.bisect_left(vocab, prefix)
    succ = _prefix_successor(prefix) if prefix else None
    hi = bisect.bisect_left(vocab, succ) if succ is not None else len(vocab)
    sub = vocab[lo:hi]
    if pattern == prefix + "*":
        return sub
    rx = _wild_rx(pattern)
    return [t for t in sub if rx.match(t)]


def _expand_range(vocab: list[str], node: qp.TermRangeNode) -> list[str]:
    lo = (
        0
        if node.lo is None
        else (
            bisect.bisect_left(vocab, node.lo)
            if node.inc_lo
            else bisect.bisect_right(vocab, node.lo)
        )
    )
    hi = (
        len(vocab)
        if node.hi is None
        else (
            bisect.bisect_right(vocab, node.hi)
            if node.inc_hi
            else bisect.bisect_left(vocab, node.hi)
        )
    )
    return vocab[lo:hi]


def expand_over_vocab(
    vocab_of: Callable[[str], list[str]],
    constructs: Iterable[qp.Node],
    fuzzies: Iterable[qp.FuzzyNode],
) -> tuple[dict[str, tuple[str, ...]], dict]:
    """Resolve dictionary-dependent constructs over sorted per-field
    vocabularies (``vocab_of(field)``: the driver snapshot's dictionary, or
    a stream batch's own terms): each wildcard / term-range construct's
    terms by ``repr``, uncapped, and each fuzzy construct's (term, boost)
    list, capped at ``_MAX_FUZZY_EXPANSIONS`` like the Spark lookup."""
    expanded = {
        repr(n): tuple(
            _expand_wildcard(vocab_of(n.field), n.pattern)
            if isinstance(n, qp.WildcardNode)
            else _expand_range(vocab_of(n.field), n)
        )
        for n in constructs
    }
    fuzzy_map = {
        n: tuple(expand_fuzzy(vocab_of(n.field), n, _MAX_FUZZY_EXPANSIONS))
        for n in fuzzies
    }
    return expanded, fuzzy_map


#: a string Spark's ANSI cast reads as a BIGINT (after trimming)
_SPARK_INT_RE = re.compile(r"[+-]?\d+")


def _spark_cast(v: str, integral: bool):
    """A string as Spark's ANSI cast reads it for a BIGINT (``integral``)
    or DOUBLE comparison: trimmed and strict; a malformed one raises, as
    Spark's CAST_INVALID_INPUT does at the action."""
    s = v.strip()
    if integral and _SPARK_INT_RE.fullmatch(s):
        return int(s)
    if not integral:
        try:
            return float(s)
        except ValueError:
            pass
    raise ValueError(
        f"[CAST_INVALID_INPUT] the value {v!r} cannot be cast to "
        f"{'BIGINT' if integral else 'DOUBLE'}"
    )


def _in_mask(col: pd.Series, values) -> np.ndarray:
    """``col.isin(values)`` with the coercion of Spark's ANSI ``isin``:
    string values against a numeric column cast to a number, a string
    column against numeric values casts to a number; null never
    matches."""
    vals = [v for v in values if v is not None]

    def number(v) -> bool:
        return isinstance(v, (int, float, np.number)) and not isinstance(v, bool)

    integral = not any(isinstance(v, (float, np.floating)) for v in vals)
    if pd.api.types.is_numeric_dtype(col) and not pd.api.types.is_bool_dtype(col):
        integral = integral and pd.api.types.is_integer_dtype(col)
        vals = [_spark_cast(v, integral) if isinstance(v, str) else v for v in vals]
    elif any(number(v) for v in vals):
        vals = [_spark_cast(v, integral) if isinstance(v, str) else v for v in vals]
        col = col.map(lambda s: _spark_cast(s, integral) if isinstance(s, str) else s)
    return col.isin(vals).to_numpy(dtype=bool, na_value=False)


def _numeric(col: pd.Series) -> np.ndarray:
    """A column as float64, nulls and non-numbers as NaN."""
    return pd.to_numeric(col, errors="coerce").to_numpy(
        dtype=np.float64, na_value=np.nan
    )


def _virtual_ids(node: qp.Node, pdf: pd.DataFrame, n: int) -> np.ndarray:
    """Row indices of ``pdf`` matching a metadata clause — the vectorized
    twin of virtual_condition (Int32Field semantics,
    InMemoryCategoriserRepository.cs:236-244; ``isin`` and ``concat_ws``
    as Spark evaluates them)."""
    if isinstance(node, qp.MatchAllNode):
        return np.arange(n, dtype=np.int64)
    if isinstance(node, qp.IntTermNode):
        if node.field not in pdf:
            return np.empty(0, dtype=np.int64)
        return np.flatnonzero(_numeric(pdf[node.field]) == node.value).astype(np.int64)
    if isinstance(node, qp.IntRangeNode):
        if node.field not in pdf:
            return np.empty(0, dtype=np.int64)
        col = _numeric(pdf[node.field])
        mask = ~np.isnan(col)
        if node.lo is not None:
            mask &= (col >= node.lo) if node.inc_lo else (col > node.lo)
        if node.hi is not None:
            mask &= (col <= node.hi) if node.inc_hi else (col < node.hi)
        return np.flatnonzero(mask).astype(np.int64)
    if isinstance(node, qp.MetaInNode):
        if node.column not in pdf:
            return np.empty(0, dtype=np.int64)
        return np.flatnonzero(_in_mask(pdf[node.column], node.values)).astype(
            np.int64
        )
    if isinstance(node, qp.IdNode):
        cols = ("repo", "path", "commit")
        if any(c not in pdf for c in cols):
            return np.empty(0, dtype=np.int64)
        # concat_ws: nulls are skipped, not written
        refs = [
            "/".join(str(v) for v in row if not pd.isna(v)).lower()
            for row in zip(*(pdf[c] for c in cols))
        ]
        return np.flatnonzero(
            np.asarray(refs, dtype=object) == node.doc_ref
        ).astype(np.int64)
    raise TypeError(type(node))  # pragma: no cover


# --------------------------------------------------------------------------
# Driver snapshot: the small tables of a small index, held in the driver
# --------------------------------------------------------------------------

#: a reader loads its driver snapshot only when the dictionary, docs and
#: docmap files (main plus committed deltas) take at most this many bytes
#: on disk.  On a 4-vCPU host, three runs each (load; then a first
#: wildcard compile, which sorts the field's vocabulary; then a fuzzy
#: compile): 1.9 MiB (800 docs, 114k terms) 0.05-0.06 s, 0.07-0.08 s,
#: 0.34-0.37 s; 14.0 MiB (60k docs of 50-450 words, 269k terms)
#: 0.17-0.19, 0.19-0.27, 0.61-0.67 s; 28.1 MiB (135k such docs, 408k
#: terms) 0.31-0.36, 0.33-0.41, 0.75-0.76 s; 31.8 MiB (155k docs, 444k
#: terms) 0.33-0.34, 0.34-0.42, 0.72-0.77 s.  At 31.8 MiB the tables hold
#: 48 MiB of Arrow memory, and the process peak grew 270 MiB once the docs
#: were in pandas and one vocabulary sorted.  There a fresh engine's first
#: probe search (snapshot load and wildcard compile included) took
#: 1.0-1.3 s against 2.6 s through Spark on a warm JVM, and warm probes
#: 0.07-0.25 s against 0.65-1.8 s.  A 250k-doc index of such docs takes
#: about 51 MiB, above the cap.
LOCAL_SNAPSHOT_MAX_BYTES = 32 << 20

#: a call whose blocks hold at most this many postings (the snapshot df of
#: every term it needs plus the docs each metadata clause matches) runs in
#: the driver; larger calls run the Spark plan.  The 136-category pass,
#: warm, on a 4-vCPU host (Spark local[4] vs driver, two runs each):
#: 800 docs / 52k postings, scored top-100 2.0-2.3 s vs 0.9-1.0 s, bool
#: 2.2-2.3 vs 0.8-1.1 s; 4k docs / 266k, 2.8-2.9 vs 1.4 s; 16k docs /
#: 1.07M, 3.5-3.8 vs 2.1-2.4 s, bool 4.1-4.5 vs 3.0-3.2 s; 20k docs of
#: 50-450 words / 1.34M, 4.6-4.8 vs 4.4 s, bool 5.2-5.8 vs 5.2-5.6 s (the
#: break-even); 60k such docs / 4.0M, 7.5-7.7 vs 7.8 s, bool 8.1-8.5 vs
#: 11.5-11.8 s.  The driver runs one core, so the cap stays below it.
LOCAL_MAX_POSTINGS = 1_000_000

#: tables a reader binds at open, from its one manifest read
_SNAPSHOT_PATH_TABLES = (
    IndexCatalog.DOC_STATS,
    IndexCatalog.DICTIONARY,
    IndexCatalog.POSTINGS,
    IndexCatalog.DOCS,
    IndexCatalog.DOCMAP,
    IndexCatalog.DELTA_DICTIONARY,
    IndexCatalog.DELTA_BLOCKS,
    IndexCatalog.DELTA_DOCS,
    IndexCatalog.DELTA_DOCMAP,
)

_DICT_COLS = ("term_id", "df", "term", "field", "bucket")

#: arrow integer types -> pandas nullable ones (an int column with nulls
#: would otherwise come back float)
_NULLABLE_INTS = {
    pa.int8(): pd.Int8Dtype(),
    pa.int16(): pd.Int16Dtype(),
    pa.int32(): pd.Int32Dtype(),
    pa.int64(): pd.Int64Dtype(),
}


def _table_dirs(paths: dict, seqs: list[int], table: str) -> list[str]:
    """A main table's dir plus its committed delta batch dirs."""
    delta = paths[IndexCatalog.DELTA_OF[table]]
    return [paths[table]] + [f"{delta}/batch={s}" for s in seqs]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class DriverSnapshot:
    """A small index's dictionary, live docs and docmap in driver memory,
    as the reader's Spark views see them:

    * dictionary: main plus committed delta rows, ``df`` summed per
      ``term_id`` (``dictionary_view``); term, field and bucket come from
      the first row of each id (main before deltas);
    * docs: main plus delta docs minus the tombstoned ords of the
      ``ford == -2`` docmap payloads (``docs_view``);
    * docmap: main plus delta rows (``docmap_view``).

    A call compiled against it resolves its terms and expansions here, and
    a call under ``LOCAL_MAX_POSTINGS`` fetches its posting blocks with
    pyarrow and runs the eval kernel in process (see run_categories)."""

    def __init__(self, paths: dict, seqs: list[int], dictionary: pa.Table,
                 docs: pa.Table, docmap: pa.Table):
        self._paths = paths
        self._seqs = seqs
        tid = dictionary.column("term_id").to_numpy()
        order = np.argsort(tid, kind="stable")
        tid = tid[order]
        starts = (
            np.flatnonzero(np.r_[True, tid[1:] != tid[:-1]]) if len(tid) else _EMPTY
        )
        first = pa.array(order[starts])
        #: sorted unique term_ids and their summed df / bucket / field / term
        self.term_ids = tid[starts]
        self.df = (
            np.add.reduceat(dictionary.column("df").to_numpy()[order], starts)
            if len(tid)
            else _EMPTY
        )
        self.bucket = dictionary.column("bucket").take(first).to_numpy()
        self.fields = dictionary.column("field").take(first).combine_chunks()
        self.terms = dictionary.column("term").take(first).combine_chunks()
        self.docs = docs
        self.docmap = docmap
        self._vocab: dict[str, tuple[list[str], np.ndarray]] = {}
        self._docs_pd: pd.DataFrame | None = None
        self._virtual: dict[str, np.ndarray] = {}
        self._virtual_blocks: dict[tuple, pd.DataFrame] = {}
        self._docmap_rows: dict[bool, pd.DataFrame] = {}
        self._datasets: list | None = None

    @classmethod
    def load(cls, paths: dict, seqs: list[int]) -> "DriverSnapshot | None":
        """Read the three tables with pyarrow, or None when their files
        take more than ``LOCAL_SNAPSHOT_MAX_BYTES``."""
        tables = (IndexCatalog.DICTIONARY, IndexCatalog.DOCS, IndexCatalog.DOCMAP)
        size = sum(
            _dir_bytes(d) for t in tables for d in _table_dirs(paths, seqs, t)
        )
        if size > LOCAL_SNAPSHOT_MAX_BYTES:
            return None

        def read(table: str, columns=None) -> pa.Table:
            parts = [
                pads.dataset(d, format="parquet", partitioning="hive").to_table(
                    columns=columns
                )
                for d in _table_dirs(paths, seqs, table)
            ]
            return pa.concat_tables(parts, promote_options="permissive")

        dictionary = read(IndexCatalog.DICTIONARY, list(_DICT_COLS)).cast(
            pa.schema([
                ("term_id", pa.int64()), ("df", pa.int64()),
                ("term", pa.string()), ("field", pa.string()),
                ("bucket", pa.int64()),
            ])
        )
        docmap = read(IndexCatalog.DOCMAP)
        docs = index_append.drop_tombstoned(read(IndexCatalog.DOCS), docmap)
        return cls(paths, seqs, dictionary, docs, docmap)

    # -- compile --------------------------------------------------------------

    def vocab(self, field: str) -> tuple[list[str], np.ndarray]:
        """One field's terms in sorted (code point) order and their
        dictionary row numbers — the order Spark compares strings in."""
        v = self._vocab.get(field)
        if v is None:
            rows = np.flatnonzero(
                pc.equal(self.fields, field).to_numpy(zero_copy_only=False)
            )
            terms = self.terms.take(pa.array(rows))
            order = pc.sort_indices(terms).to_numpy()
            v = (terms.take(pa.array(order)).to_pylist(), rows[order])
            self._vocab[field] = v
        return v

    def _vocab_rows(self, field: str, terms: list[str]) -> np.ndarray:
        vocab, rows = self.vocab(field)
        return rows[[bisect.bisect_left(vocab, t) for t in terms]].astype(np.int64)

    def lookup(
        self,
        exact: set[tuple[str, str]],
        fuzzies: set[qp.FuzzyNode],
        constructs: set[qp.Node],
        config: EngineConfig,
    ) -> tuple[dict, dict, dict, dict, dict]:
        """The compile's dictionary lookups in the driver, with the Spark
        lookups' answers: (df_map, bucket_map, tid_map) for every exact,
        fuzzy and expanded term found, fuzzy expansions as
        :meth:`IndexReader.lookup_dictionary` returns them, and each
        wildcard / term-range construct's terms by ``repr``."""
        from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
            term_id_of,
        )

        found: list[np.ndarray] = []
        if exact and len(self.term_ids):
            tids = np.fromiter(
                (term_id_of(f, t) for f, t in exact), np.int64, len(exact)
            )
            i = np.minimum(
                np.searchsorted(self.term_ids, tids), len(self.term_ids) - 1
            )
            found.append(i[self.term_ids[i] == tids])
        expanded, fuzzy_map = expand_over_vocab(
            lambda field: self.vocab(field)[0], constructs, fuzzies
        )
        for node, tb in fuzzy_map.items():
            found.append(self._vocab_rows(node.field, [t for t, _ in tb]))
        cap = getattr(config, "max_term_expansions", None)
        for node in sorted(constructs, key=repr):
            terms = expanded[repr(node)]
            rows = self._vocab_rows(node.field, terms)
            if cap and len(rows) > int(cap):
                # deterministic keep, as the Spark expansion: term_id asc
                keep = np.sort(
                    np.argsort(self.term_ids[rows], kind="stable")[: int(cap)]
                )
                rows = rows[keep]
                terms = [terms[k] for k in keep]
            if cap and len(rows) >= int(cap):
                import logging

                logging.getLogger(__name__).warning(
                    "construct %s expansion truncated at %d terms "
                    "(max_term_expansions)", repr(node), len(rows),
                )
            expanded[repr(node)] = tuple(terms)
            found.append(rows)
        df_map: dict[tuple[str, str], int] = {}
        bucket_map: dict[tuple[str, str], int] = {}
        tid_map: dict[tuple[str, str], int] = {}
        if found:
            idx = np.unique(np.concatenate(found).astype(np.int64))
            sel = pa.array(idx)
            for i, f, t in zip(
                idx.tolist(),
                self.fields.take(sel).to_pylist(),
                self.terms.take(sel).to_pylist(),
            ):
                df_map[(f, t)] = int(self.df[i])
                bucket_map[(f, t)] = int(self.bucket[i])
                tid_map[(f, t)] = int(self.term_ids[i])
        return df_map, bucket_map, tid_map, fuzzy_map, expanded

    # -- fetch ----------------------------------------------------------------

    def docs_pandas(self) -> pd.DataFrame:
        """The live docs as pandas, integer columns kept integer (nullable)
        so a filter value casts to the column's own type, as in Spark."""
        if self._docs_pd is None:
            self._docs_pd = self.docs.to_pandas(types_mapper=_NULLABLE_INTS.get)
        return self._docs_pd

    def virtual_ords(self, key: str, node: qp.Node) -> np.ndarray:
        """Sorted ords of the live docs a metadata clause matches."""
        ords = self._virtual.get(key)
        if ords is None:
            pdf = self.docs_pandas()
            ids = _virtual_ids(node, pdf, len(pdf))
            ords = np.sort(pdf["ord"].to_numpy(np.int64)[ids])
            self._virtual[key] = ords
        return ords

    def virtual_blocks(
        self, key: str, node: qp.Node, vtid: int, ord_bits: int,
        band_bits: int, block_size: int,
    ) -> pd.DataFrame:
        """A metadata clause's posting blocks, grouped and encoded as
        :func:`_encode_virtual_key` does in Spark."""
        ckey = (key, band_bits)
        out = self._virtual_blocks.get(ckey)
        if out is None:
            ords = self.virtual_ords(key, node)
            ord_shift = max(ord_bits - band_bits, 0)
            vsalt_bits = min(_VIRTUAL_SALT_BITS, ord_shift)
            band = ords >> ord_shift
            salt = (
                (ords >> (ord_shift - vsalt_bits)) % (1 << vsalt_bits)
                if vsalt_bits
                else np.zeros(len(ords), dtype=np.int64)
            )
            frames = [
                encode_virtual_group(
                    (vtid, bd, sl),
                    pd.DataFrame({"doc_id": g["doc_id"].to_numpy()}),
                    block_size,
                )
                for (bd, sl), g in pd.DataFrame(
                    {"doc_id": ords, "band": band, "salt": salt}
                ).groupby(["band", "salt"], sort=True)
            ]
            out = pd.concat(frames, ignore_index=True) if frames else None
            self._virtual_blocks[ckey] = out
        return out

    def docmap_rows(self, scored: bool) -> pd.DataFrame:
        """The docmap as sentinel block rows under ``DOCMAP_TID`` — the
        rows the Spark plan's docmap projection unions in."""
        out = self._docmap_rows.get(scored)
        if out is None:
            dm = self.docmap
            if not scored:
                dm = dm.filter(pc.less(dm["ford"], 0))
            n = dm.num_rows
            out = pd.DataFrame({
                "term_id": np.full(n, DOCMAP_TID, dtype=np.int64),
                "salt": dm.column("ford").to_numpy().astype(np.int32),
                "band": dm.column("band").to_numpy().astype(np.int32),
                "blk_seq": dm.column("blk_seq").to_numpy().astype(np.int32),
                "n": dm.column("n").to_numpy().astype(np.int32),
                "min_docid": np.zeros(n, dtype=np.int64),
                "max_docid": np.zeros(n, dtype=np.int64),
                "max_norm": np.zeros(n),
                "docids": dm.column("payload").to_pandas(),
                "tfs": pd.Series([None] * n, dtype=object),
                "posdata": pd.Series([None] * n, dtype=object),
            })
            self._docmap_rows[scored] = out
        return out

    def postings(
        self, tids: list[int], buckets: list[int], columns: list[str]
    ) -> pd.DataFrame:
        """The posting blocks of ``tids``: the main table read with bucket
        partition pruning and the term_id filter pushed to row-group
        statistics, plus the committed delta batches."""
        if self._datasets is None:
            self._datasets = [
                pads.dataset(d, format="parquet", partitioning="hive")
                for d in _table_dirs(
                    self._paths, self._seqs, IndexCatalog.POSTINGS
                )
            ]
        main, *deltas = self._datasets
        sel = pads.field("term_id").isin(tids)
        in_buckets = pads.field("bucket").isin(buckets)
        parts = [main.to_table(columns=columns, filter=in_buckets & sel)] + [
            d.to_table(columns=columns, filter=sel) for d in deltas
        ]
        return pa.concat_tables(parts, promote_options="permissive").to_pandas()


# --------------------------------------------------------------------------
# Compilation: replace dictionary-dependent nodes, collect term needs
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ExpandedTermsNode(qp.Node):
    """Wildcard / term-range after dictionary expansion: constant score 1.0
    for any doc containing >= 1 of the expanded terms.  ``source`` keeps the
    original construct so the single-doc (``categorise_docs``) path can
    also match terms the index has never seen — the reference expands
    multi-term queries against the transient per-doc index, not a global
    dictionary.

    ``terms is None`` marks a DISTRIBUTED expansion: the matching terms
    were never collected to the driver — the construct's term_id DataFrame
    (reader.expansion_cache[key]) semi-joins into the blocks fetch, rows
    arrive tagged with ``key``, and the evaluator unions the group's tagged
    term postings (constant-score rewrite, Lucene MultiTermQuery style).
    A stream batch compiles the parsed trees against its own vocabulary
    (``expand_over_vocab``), so its terms are always an explicit tuple."""

    field: str
    terms: tuple[str, ...] | None = None
    source: qp.Node | None = None
    key: str | None = None


@dataclass
class ExpansionInfo:
    """One construct's distributed expansion: the BOUNDED driver-side
    facts — match count and hosting buckets (for partition pruning) — plus
    ``parent``, the persisted (term_id, bucket, ckey) scan this construct
    was tagged in.  Its matching term_ids are the parent's rows with
    ``ckey`` equal to the construct's key; queries touching several
    constructs of one compile route them all with a single isin filter
    over the parent instead of a per-construct union."""

    n_terms: int
    buckets: tuple[int, ...]
    parent: DataFrame


#: FuzzyQuery's expansion cap (Lucene maxExpansions default 50); ties are
#: deterministic: (distance asc, term asc)
_MAX_FUZZY_EXPANSIONS = 50

#: cap on the term_id IN-list pushed into the postings parquet scan; beyond
#: this the broadcast term join alone does the selection (planning cost of a
#: giant IN beats the row-group skips it buys)
_MAX_PUSHED_TERM_IDS = 8192

#: block-max top-k pruning only pays above this many postings per
#: (category, band): below it the pruning machinery's fixed cost (clause
#: upper-bound sort, per-clause candidate intersection, block-mask pandas
#: slices) measured ~3x a plain vectorized eval + partial top-k, which is
#: O(postings) with tiny numpy constants.  High-band indexes make each band
#: small, so most groups take the cheap path; the pruning path still guards
#: the pathological wide-OR x large-band case it was built for.
_TOPK_MIN_POSTINGS = 100_000


@dataclass(frozen=True)
class ExpandedFuzzyNode(qp.Node):
    """Fuzzy construct after dictionary expansion: per-term scoring boosts
    (``1 - d/min_len``), summed like SHOULD TermQueries (BooleanQuery
    scoring rewrite).  ``source`` keeps the original so the single-doc
    path can match terms the global dictionary never saw; the stream batch
    expands it against its own vocabulary instead (``expand_over_vocab``)."""

    field: str
    terms: tuple[str, ...]
    boosts: tuple[float, ...]
    source: qp.FuzzyNode | None = None


#: pseudo-field hosting virtual posting sets in tid_map/needed_terms
VIRTUAL_FIELD = "__virtual__"

#: reserved term_id carrying per-band packed ord -> doc_id arrays through
#: the eval shuffle (replicated per chunk by the terms_df broadcast join,
#: so every (chunk, band) task can translate its ords without a join
#: against the docs table).  Collision with a real blake2b term_id is
#: ~2^-64 and would be caught by the dictionary collision check.
DOCMAP_TID = (1 << 63) - 1


@dataclass(frozen=True)
class VirtualDocsNode(qp.Node):
    """Numeric-range / id clause over docs metadata (constant score).

    Evaluated DISTRIBUTED: the matching doc_id set is materialized as
    "virtual posting blocks" (same block schema as real postings, built by
    :func:`build_virtual_blocks`) and unioned into the evaluation shuffle —
    never collected to the driver (a wide range can match ~every doc; at
    10¹² rows a driver collect is an OOM).  ``source`` keeps the original
    metadata clause for condition building and for the single-doc path."""

    key: str
    source: qp.Node


def expand_tree(
    node: qp.Node,
    expanded: dict[str, tuple[str, ...]],
    fuzzy_map: dict,
) -> qp.Node:
    """A parsed tree with its dictionary-dependent leaves resolved: a
    wildcard / term range becomes an ExpandedTermsNode carrying
    ``expanded[repr]`` (None, a distributed expansion, when absent), a
    fuzzy term an ExpandedFuzzyNode with ``fuzzy_map``'s (term, boost)
    list, and a metadata clause a VirtualDocsNode keyed by its ``repr``."""

    def leaf(n: qp.Node) -> qp.Node:
        if isinstance(n, (qp.WildcardNode, qp.TermRangeNode)):
            return ExpandedTermsNode(n.field, expanded.get(repr(n)), n, key=repr(n))
        if isinstance(n, qp.FuzzyNode):
            tb = fuzzy_map.get(n, ())
            return ExpandedFuzzyNode(
                n.field, tuple(t for t, _ in tb), tuple(b for _, b in tb), n
            )
        if isinstance(n, (qp.IntTermNode, qp.IntRangeNode, qp.IdNode, qp.MatchAllNode)):
            return VirtualDocsNode(repr(n), n)
        return n

    return qp.map_leaves(node, leaf)


def virtual_clauses(node: qp.Node) -> dict[str, qp.Node]:
    """{key: metadata clause} of every VirtualDocsNode in a compiled tree."""
    return {n.key: n.source for n in qp.walk(node) if isinstance(n, VirtualDocsNode)}


def compile_queries(
    reader: IndexReader,
    categories: list[tuple[str, str]],
    config: EngineConfig | None = None,
) -> tuple[dict[str, qp.Node], dict[str, np.ndarray], dict[tuple[str, str], int]]:
    """Parse all query strings, expand dictionary-dependent constructs,
    rewrite metadata clauses to virtual-postings nodes, and pull GLOBAL df
    for every needed term — scoring must use global df everywhere,
    including phrase terms absent from the index (df=0, Lucene still sums
    their idf) and bands where a term has no postings.  When the reader
    holds a driver snapshot (small index) every lookup runs there and
    wildcard / term-range constructs carry their expanded terms; otherwise
    the lookups are Spark jobs over the dictionary and constructs expand
    distributed (terms=None).

    Returns (compiled nodes by category_id, virtual clause nodes by key,
    df by (field, term), hosting bucket by (field, term), term_id by
    (field, term) — postings are keyed by the numeric term_id; virtual
    clauses appear under the ``__virtual__`` pseudo-field)."""
    config = config or reader.config
    cache_key = (tuple(categories), config)
    cached = reader.compile_cache.get(cache_key)
    if cached is not None:
        reader.compile_cache.move_to_end(cache_key)
        return cached
    hits = [reader.percat_cache.get((cid, q, config)) for cid, q in categories]
    if all(h is not None for h in hits):
        # assemble from per-category compiles — no dictionary job
        compiled = {cid: h[0] for (cid, _), h in zip(categories, hits)}
        df_map: dict = {}
        bucket_map: dict = {}
        tid_map: dict = {}
        virtual: dict[str, qp.Node] = {}
        for h in hits:
            df_map.update(h[1])
            bucket_map.update(h[2])
            tid_map.update(h[3])
        for node in compiled.values():
            virtual.update(virtual_clauses(node))
        out = (compiled, virtual, df_map, bucket_map, tid_map)
        reader.compile_cache[cache_key] = out
        while len(reader.compile_cache) > reader.compile_cache_max:
            reader.compile_cache.popitem(last=False)
        return out
    parsed = {cid: qp.parse_query(q, config) for cid, q in categories}

    # the BOUNDED dictionary needs (exact terms, fuzzy candidates) resolve
    # in ONE collected Spark job; wildcard / term-range constructs expand
    # DISTRIBUTED (expand_constructs) — their matching terms never reach
    # the driver, only per-construct counts + hosting buckets do.
    exact, constructs, fuzzies = qp.dictionary_needs(parsed.values())
    snap = reader.snapshot()
    expanded: dict[str, tuple[str, ...]] = {}
    if snap is not None:
        # small index: every lookup and expansion resolves against the
        # driver snapshot, and constructs carry their terms explicitly
        df_map, bucket_map, tid_map, fuzzy_map, expanded = snap.lookup(
            exact, fuzzies, constructs, config
        )
    elif constructs and (exact or fuzzies):
        # the exact/fuzzy lookup job and the construct-expansion job are
        # independent scans of the same persisted dictionary — submit them
        # CONCURRENTLY (Spark schedules both) instead of paying two
        # sequential job walls; cold compile is job-count-bound.
        # Materialize the lazy dictionary handle first so the threads
        # don't race its persist initialization.
        from concurrent.futures import ThreadPoolExecutor

        reader.dictionary()
        with ThreadPoolExecutor(max_workers=2) as _ex:
            _f_lookup = _ex.submit(reader.lookup_dictionary, exact, fuzzies)
            _f_exp = _ex.submit(reader.expand_constructs, constructs, config)
            df_map, bucket_map, tid_map, fuzzy_map = _f_lookup.result()
            _f_exp.result()
    else:
        df_map, bucket_map, tid_map, fuzzy_map = reader.lookup_dictionary(
            exact, fuzzies
        )
        if constructs:
            reader.expand_constructs(constructs, config)

    compiled = {
        cid: expand_tree(n, expanded, fuzzy_map) for cid, n in parsed.items()
    }
    #: key -> original metadata clause; doc sets are NOT resolved here —
    #: they materialize distributed at evaluation time (build_virtual_blocks)
    virtual: dict[str, qp.Node] = {}
    for node in compiled.values():
        virtual.update(virtual_clauses(node))

    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import term_id_of

    for key in virtual:
        tid_map[(VIRTUAL_FIELD, key)] = term_id_of(VIRTUAL_FIELD, key)
    out = (compiled, virtual, df_map, bucket_map, tid_map)
    reader.compile_cache[cache_key] = out
    while len(reader.compile_cache) > reader.compile_cache_max:
        reader.compile_cache.popitem(last=False)
    for cid, q in categories:
        reader.percat_cache[(cid, q, config)] = (
            compiled[cid], df_map, bucket_map, tid_map,
        )
    while len(reader.percat_cache) > reader.percat_cache_max:
        reader.percat_cache.popitem(last=False)
    return out


def phrase_terms(node: qp.Node) -> set[tuple[str, str]]:
    """(field, term) pairs whose POSITIONS the evaluator will read (phrase
    slots).  Position streams for all other terms are dropped before the
    eval shuffle — posdata is the largest per-posting stream, and plain
    term/bool scoring never touches it."""
    return {
        ft
        for n in qp.walk(node)
        if isinstance(n, qp.PhraseNode)
        for ft in qp.leaf_terms(n)
    }


def has_phrase(node: qp.Node) -> bool:
    """Whether a tree holds a phrase, the one node that reads positions."""
    return any(isinstance(n, qp.PhraseNode) for n in qp.walk(node))


def needed_terms(node: qp.Node) -> set[tuple[str, str]]:
    """(field, term) keys of every posting list a compiled tree reads:
    exact-term leaves, explicit expansions, and virtual clauses under
    ``VIRTUAL_FIELD``."""
    out: set[tuple[str, str]] = set()
    for n in qp.walk(node):
        if isinstance(n, (ExpandedTermsNode, ExpandedFuzzyNode)):
            out.update((n.field, t) for t in n.terms or ())
        elif isinstance(n, VirtualDocsNode):
            out.add((VIRTUAL_FIELD, n.key))
        else:
            out.update(qp.leaf_terms(n))
    return out


def distributed_constructs(node: qp.Node) -> set[str]:
    """Construct keys of every DISTRIBUTED expansion (ExpandedTermsNode
    with terms=None) in an AST."""
    return {
        n.key
        for n in qp.walk(node)
        if isinstance(n, ExpandedTermsNode) and n.terms is None and n.key is not None
    }


def virtual_condition(node: qp.Node):
    """Docs-table predicate for a metadata clause (pushes down to the
    parquet/Iceberg scan; Int32Field semantics per
    InMemoryCategoriserRepository.cs:236-244)."""
    if isinstance(node, qp.IntTermNode):
        return F.col(node.field) == node.value
    if isinstance(node, qp.IntRangeNode):
        cond = F.col(node.field).isNotNull()
        if node.lo is not None:
            cond = cond & (
                F.col(node.field) >= node.lo
                if node.inc_lo
                else F.col(node.field) > node.lo
            )
        if node.hi is not None:
            cond = cond & (
                F.col(node.field) <= node.hi
                if node.inc_hi
                else F.col(node.field) < node.hi
            )
        return cond
    if isinstance(node, qp.IdNode):
        return F.lower(F.concat_ws("/", "repo", "path", "commit")) == node.doc_ref
    if isinstance(node, qp.MatchAllNode):
        return F.lit(True)
    if isinstance(node, qp.MetaInNode):
        return F.col(node.column).isin(list(node.values))
    raise TypeError(type(node))  # pragma: no cover


#: doc_id-top-bit salts per (virtual key, band) group — bounds the rows any
#: single virtual-block build task holds to ~corpus/(bands*salts)
_VIRTUAL_SALT_BITS = 4


def build_virtual_blocks(
    reader: IndexReader,
    virtual: dict[str, qp.Node],
    tid_map: dict[tuple[str, str], int],
    config: EngineConfig,
    band_bits: int,
) -> DataFrame:
    """Materialize metadata clauses as posting blocks (BLOCKS_SCHEMA).

    One distributed pass per NEW clause (cached+persisted per reader
    afterwards — the doc set is immutable for an index snapshot): docs-table
    predicate scan (filters push down) -> band+salt from doc_id bits
    (signed-order monotone, same scheme as the index build) -> per
    (term_id, band, salt) group sort + gap/varbyte encode.  Groups are
    bounded by corpus/(bands*2^salt_bits); tfs/posdata are constant-1/0
    streams so the normal decode path works unchanged (virtual sets score
    constant 1.0)."""
    parts = []
    for key in sorted(virtual):
        ckey = (key, band_bits)
        cached = reader._virtual_cache.get(ckey)
        if cached is None:
            cached = _encode_virtual_key(
                reader, virtual[key], tid_map[(VIRTUAL_FIELD, key)], config,
                band_bits,
            ).persist()
            reader._virtual_cache[ckey] = cached
            while len(reader._virtual_cache) > reader._virtual_cache_max:
                _, old_v = reader._virtual_cache.popitem(last=False)
                old_v.unpersist()
        else:
            reader._virtual_cache.move_to_end(ckey)
        parts.append(cached)
    vdf = parts[0]
    for p in parts[1:]:
        vdf = vdf.unionByName(p)
    return vdf


def encode_virtual_group(
    key: tuple, pdf: pd.DataFrame, block_size: int
) -> pd.DataFrame:
    """One (virtual term_id, band, salt) group's doc ords -> posting block
    rows (BLOCKS_SCHEMA): sorted ids in ``block_size`` blocks, constant-1
    tfs and one position 0 per posting, so the normal decode path reads
    them.  The Spark fetcher runs it per group in ``applyInPandas``, the
    driver fetcher over the snapshot's docs."""
    vtid, band, salt = int(key[0]), int(key[1]), int(key[2])
    ids = np.sort(pdf["doc_id"].to_numpy(np.int64))
    n = len(ids)
    starts = np.arange(0, n, block_size, dtype=np.int64)
    ends = np.minimum(starts + block_size, n)
    rows = {k: [] for k in (
        "blk_seq", "n", "min_docid", "max_docid", "docids", "tfs",
        "posdata",
    )}
    ones = None
    for seq, (lo, hi) in enumerate(zip(starts, ends)):
        blk = ids[lo:hi]
        rows["blk_seq"].append(seq)
        rows["n"].append(hi - lo)
        rows["min_docid"].append(int(blk[0]))
        rows["max_docid"].append(int(blk[-1]))
        # base=None: first gap absolute — _decode_rows' segmented
        # cumsum treats every block's first gap as an absolute value
        rows["docids"].append(codec.encode_docids(blk, base=None))
        if ones is None or len(ones) != hi - lo:
            ones = codec.varbyte_encode(np.ones(hi - lo, dtype=np.uint64))
        rows["tfs"].append(ones)
        rows["posdata"].append(b"\x00" * (hi - lo))  # one pos=0 per posting
    k = len(rows["blk_seq"])
    return pd.DataFrame(
        {
            "term_id": np.full(k, vtid, dtype=np.int64),
            "salt": np.full(k, salt, dtype=np.int32),
            "band": np.full(k, band, dtype=np.int32),
            "blk_seq": np.asarray(rows["blk_seq"], dtype=np.int32),
            "n": np.asarray(rows["n"], dtype=np.int32),
            "min_docid": np.asarray(rows["min_docid"], dtype=np.int64),
            "max_docid": np.asarray(rows["max_docid"], dtype=np.int64),
            "max_norm": np.ones(k),
            "docids": rows["docids"],
            "tfs": rows["tfs"],
            "posdata": rows["posdata"],
        }
    )


def _encode_virtual_key(
    reader: IndexReader,
    node: qp.Node,
    vtid: int,
    config: EngineConfig,
    band_bits: int,
) -> DataFrame:
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        BLOCKS_SCHEMA,
    )

    vdf = reader.docs().where(virtual_condition(node)).select(
        F.lit(vtid).cast("long").alias("term_id"),
        F.col("ord").alias("doc_id"),  # posting id space is the dense ord
    )
    ord_shift = max(reader.ord_bits - band_bits, 0)
    # band EXACTLY as the index derives it (ord >> ord_shift); salt = the
    # next few ord bits below the band boundary, so salts are contiguous
    # ord ranges within the band (clamped for tiny ordinal spaces)
    vsalt_bits = min(_VIRTUAL_SALT_BITS, ord_shift)
    vdf = vdf.withColumn(
        "band", F.shiftright(F.col("doc_id"), ord_shift).cast("int")
    ).withColumn(
        "salt",
        (
            F.shiftright(F.col("doc_id"), ord_shift - vsalt_bits)
            % (1 << vsalt_bits)
        ).cast("int")
        if vsalt_bits
        else F.lit(0),
    )

    block_size = config.block_size

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_virtual_group(key, pdf, block_size)

    return vdf.groupBy("term_id", "band", "salt").applyInPandas(
        encode, BLOCKS_SCHEMA
    )


# --------------------------------------------------------------------------
# Per-(category, band) evaluation kernel
# --------------------------------------------------------------------------


class _TermData:
    """One term's decoded postings.  Positions decode LAZILY: the posdata
    byte stream is carried raw (``_raw``) and only turned into
    (offsets, flat) arrays on first ``pos_offsets``/``pos_flat`` access —
    a phrase whose slot-term docid intersection comes up empty (the
    common case: most phrases match nothing in a band) never pays its
    terms' position decode (the docid pregate in ``_Evaluator._eval_phrase``).
    ``_full_tfs``/``_keep`` carry the pre-tombstone tf array + keep mask
    the deferred decode needs."""

    __slots__ = (
        "ids", "tfs", "_po", "_pf", "_raw", "_full_tfs", "_keep", "_adj",
    )

    def __init__(self, ids, tfs, pos_offsets, pos_flat,
                 pos_raw=None, full_tfs=None, keep=None):
        self.ids = ids
        self.tfs = tfs
        self._po = pos_offsets
        self._pf = pos_flat
        self._raw = pos_raw
        self._full_tfs = full_tfs
        self._keep = keep
        self._adj: dict[int, np.ndarray] = {}

    def adj_keys(self, si: int, off: np.int64) -> np.ndarray:
        """Sorted-unique absolute occurrence keys ``ord << 32 | (pos + off
        - si)`` adjusted for slot index ``si`` — CACHED per (term, si), so
        a term shared by many phrases (e.g. "publication" across ~20
        "X publication" phrases in the 136-category fixture) builds its
        key array once per eval group instead of once per phrase."""
        arr = self._adj.get(si)
        if arr is None:
            base = self._adj.get(0)
            if base is None:
                po = self.pos_offsets  # may trigger the lazy decode
                ids_rep = np.repeat(self.ids, np.diff(po))
                base = (ids_rep << 32) | (self.pos_flat + off)
                # ascending by construction (ids sorted, per-doc positions
                # ascending); dedupe stacked tokens at one position
                if len(base) > 1:
                    base = base[np.concatenate(([True], base[1:] != base[:-1]))]
                self._adj[0] = base
            arr = base if si == 0 else base - np.int64(si)
            self._adj[si] = arr
        return arr

    @property
    def has_pos(self) -> bool:
        """Whether positions are available — WITHOUT forcing the decode."""
        return self._po is not None or self._raw is not None

    @property
    def pos_offsets(self):
        if self._po is None and self._raw is not None:
            self._decode_pos()
        return self._po

    @property
    def pos_flat(self):
        if self._pf is None and self._raw is not None:
            self._decode_pos()
        return self._pf

    def _decode_pos(self) -> None:
        po, pf = codec.decode_positions(self._full_tfs, self._raw)
        if self._keep is not None:
            lens = np.diff(po)
            klens = lens[self._keep]
            pf = pf[_ragged_gather(po[:-1][self._keep], klens.astype(np.int64))]
            po = np.concatenate([[0], np.cumsum(klens)]).astype(np.int64)
        self._po, self._pf = po, pf
        self._raw = self._full_tfs = self._keep = None


_EMPTY = np.empty(0, dtype=np.int64)


_U64_SHIFT = np.uint64(1 << 63)


def _take_rows(rows: dict[str, np.ndarray], mask: np.ndarray) -> dict[str, np.ndarray]:
    """The rows of one term's blocks under a boolean mask."""
    return {c: a[mask] for c, a in rows.items()}


def _split_by_term(pdf: pd.DataFrame) -> dict[int, dict[str, np.ndarray]]:
    """A group's block rows per term_id, as column arrays: the kernel
    reads a term's columns on every decode, and a pandas per-term frame
    built a Series on each of those reads."""
    tids = pdf["term_id"].to_numpy()
    order = np.argsort(tids, kind="stable")
    tids = tids[order]
    cols = {c: pdf[c].to_numpy()[order] for c in pdf.columns}
    cuts = (np.flatnonzero(tids[1:] != tids[:-1]) + 1).tolist()
    return {
        int(tids[lo]): {c: a[lo:hi] for c, a in cols.items()}
        for lo, hi in zip([0] + cuts, cuts + [len(tids)])
    }


def band_sidecars(dm_rows, field_names: list[str]) -> tuple:
    """A band's docmap sentinel rows (the band is a contiguous ord range
    starting at band << ord_shift) -> (ord -> doc_id array from the
    salt == -1 rows, sorted tombstoned ords from the salt == -2 rows or
    None, {field: per-doc lengths} from the salt == k rows)."""
    ordmap = dead = None
    dl_by_field: dict[str, np.ndarray] = {}
    if dm_rows is None:
        return ordmap, dead, dl_by_field
    fords = dm_rows["salt"]
    for ford_v in np.unique(fords).tolist():
        at = np.flatnonzero(fords == ford_v)
        at = at[np.argsort(dm_rows["blk_seq"][at], kind="stable")]
        buf = b"".join(dm_rows["docids"][at])
        if ford_v == -2:
            # tombstoned ords: one payload per append batch touching this
            # band; unique() sorts + dedups the union
            dead = np.unique(np.frombuffer(buf, dtype="<i8"))
        elif ford_v < 0:
            ordmap = np.frombuffer(buf, dtype="<i8")
        else:
            dl_by_field[field_names[ford_v]] = np.frombuffer(buf, dtype="<i4")
    return ordmap, dead, dl_by_field


def _decode_rows(rows: dict[str, np.ndarray], need_positions: bool) -> _TermData:
    """Decode all blocks of one (field, term): salts are contiguous
    signed-order ranges, so sorting rows by (salt, blk_seq) and concatenating
    yields globally sorted doc ids.

    Each varbyte stream (docids/tfs/posdata) is decoded in ONE pass over
    the concatenation of the term's blocks — every block's first docid gap
    is absolute, so per-block values are recovered with a segmented cumsum
    (subtract the carried prefix at each block start) instead of per-block
    decode calls, which dominated the profile at ~70 blocks/term."""
    # numpy lexsort + object-array gather: pandas sort_values cost ~1 ms
    # per term (~0.3 s/group over ~300 terms — profiled), all of it
    # categorical/indexing overhead the two int columns don't need
    order = np.lexsort((rows["blk_seq"], rows["salt"]))
    ns = rows["n"].astype(np.int64)[order]
    doc_b = rows["docids"]
    tf_b = rows["tfs"]
    total = int(ns.sum())
    gaps = codec.varbyte_decode(b"".join(doc_b[i] for i in order), count=total)
    with np.errstate(over="ignore"):
        cum = np.cumsum(gaps, dtype=np.uint64)
        starts = np.zeros(len(ns), dtype=np.int64)
        np.cumsum(ns[:-1], out=starts[1:])
        base = cum[starts] - gaps[starts]  # carried prefix per block
        cum -= np.repeat(base, ns)
        ids = (cum - _U64_SHIFT).astype(np.int64)
    tfs = codec.varbyte_decode(
        b"".join(tf_b[i] for i in order), count=total
    ).astype(np.int64)
    pos_raw = None
    pos_b = rows["posdata"]
    if need_positions and pos_b[0] is not None:
        # per-posting position counts == tfs (no separate poslens stream);
        # per-posting delta chains restart absolute, so one decode suffices.
        # posdata arrives null for terms no phrase in this chunk uses —
        # their positions were dropped before the eval shuffle.  The decode
        # itself is DEFERRED (see _TermData): only phrases that reach a
        # non-empty candidate set force it.
        pos_raw = b"".join(pos_b[i] for i in order)
    return _TermData(ids, tfs, None, None, pos_raw=pos_raw, full_tfs=tfs)


def _union_add(ids_a, sc_a, ids_b, sc_b):
    """Union of two sorted (ids, scores): scores summed on overlap."""
    if len(ids_a) == 0:
        return ids_b, sc_b
    if len(ids_b) == 0:
        return ids_a, sc_a
    ids = np.concatenate([ids_a, ids_b])
    sc = np.concatenate([sc_a, sc_b])
    order = np.argsort(ids, kind="stable")
    ids, sc = ids[order], sc[order]
    uniq, inverse = np.unique(ids, return_inverse=True)
    out = np.zeros(len(uniq))
    np.add.at(out, inverse, sc)
    return uniq, out


def _union_add_many(parts):
    """ONE-SHOT union of many sorted (ids, scores) pairs, scores summed on
    overlap — replaces an iterative ``_union_add`` chain, which is
    O(clauses x accumulated size) with a fresh argsort per step, with one
    O(total log total) unique.  The 136-category fixture has categories
    with hundreds of SHOULD clauses (501 phrases in the heaviest), where
    the chain dominated the eval kernel."""
    parts = [(i, s) for i, s in parts if len(i)]
    if not parts:
        return _EMPTY, _EMPTY
    if len(parts) == 1:
        return parts[0]
    allids = np.concatenate([i for i, _ in parts])
    allsc = np.concatenate([s for _, s in parts])
    ids, inverse = np.unique(allids, return_inverse=True)
    sc = np.bincount(inverse, weights=allsc, minlength=len(ids))
    return ids, sc


def _union_ids_many(parts):
    """One-shot constant-score union of many sorted id arrays."""
    parts = [i for i in parts if len(i)]
    if not parts:
        return _EMPTY
    if len(parts) == 1:
        return parts[0]
    return np.unique(np.concatenate(parts))


def _member_mask(a: np.ndarray, b: np.ndarray):
    """For sorted-unique arrays: boolean mask of a's elements present in b,
    plus their positions in b (valid where the mask is True).  One
    searchsorted — O(|a| log |b|) — where np.intersect1d/np.isin re-sort
    the concatenation every call (profiled hot in the eval kernel)."""
    if len(b) == 0 or len(a) == 0:
        return np.zeros(len(a), dtype=bool), np.empty(0, dtype=np.int64)
    idx = np.searchsorted(b, a)
    np.minimum(idx, len(b) - 1, out=idx)
    return b[idx] == a, idx


def _intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection VALUES of two sorted-unique arrays (searchsorted from
    the smaller side)."""
    if len(a) > len(b):
        a, b = b, a
    mask, _ = _member_mask(a, b)
    return a[mask]


def _intersect_add(ids_a, sc_a, ids_b, sc_b):
    if len(ids_a) == 0 or len(ids_b) == 0:
        return _EMPTY, _EMPTY
    if len(ids_a) <= len(ids_b):
        mask, idx = _member_mask(ids_a, ids_b)
        return ids_a[mask], sc_a[mask] + sc_b[idx[mask]]
    mask, idx = _member_mask(ids_b, ids_a)
    return ids_b[mask], sc_b[mask] + sc_a[idx[mask]]


def _andnot(ids_a, sc_a, ids_not):
    if len(ids_not) == 0 or len(ids_a) == 0:
        return ids_a, sc_a
    mask, _ = _member_mask(ids_a, ids_not)
    return ids_a[~mask], sc_a[~mask]


def _kth_score(scores: np.ndarray, k: int) -> float:
    """Current k-th best score; -inf while fewer than k candidates."""
    if len(scores) < k:
        return float("-inf")
    return float(np.partition(scores, -k)[-k])


def _partial_topk(ids: np.ndarray, sc: np.ndarray, k: int):
    if len(ids) <= k:
        return ids, sc
    order = np.lexsort((ids, -sc))[:k]
    return ids[order], sc[order]


def _topk_keep_ties(ids: np.ndarray, sc: np.ndarray, k: int):
    """Top-k by score, keeping ALL docs tied with the k-th score.  Used for
    in-band cuts while ids are still ords: the final (score desc, doc_id
    asc) selection happens after ord -> doc_id translation, so boundary
    ties must survive the band cut."""
    if len(ids) <= k:
        return ids, sc
    kth = np.partition(sc, -k)[-k]
    keep = sc >= kth
    return ids[keep], sc[keep]


def _doc_freqs(docs: np.ndarray, scored: bool, weights=None):
    """Sorted per-occurrence ords -> (unique ords, per-ord freq).  The freq
    sums ``weights`` in occurrence order (run lengths when None); bool
    mode (``scored=False``) returns the ords only, freqs None."""
    if not len(docs):
        return _EMPTY, _EMPTY
    bnd = np.empty(len(docs), dtype=bool)
    bnd[0] = True
    np.not_equal(docs[1:], docs[:-1], out=bnd[1:])
    ids = docs[bnd]
    if not scored:
        return ids, None
    run = np.cumsum(bnd) - 1
    freqs = np.bincount(run, weights=weights, minlength=len(ids))
    return ids, freqs.astype(np.float64)


def _keys_in_docs(keys: np.ndarray, docs: np.ndarray) -> np.ndarray:
    """The sorted occurrence keys ``ord << 32 | pos`` whose ord is in the
    sorted ``docs``: one slice per doc, two searchsorteds in all."""
    lo = np.searchsorted(keys, docs << 32)
    hi = np.searchsorted(keys, (docs + 1) << 32)
    return keys[_ragged_gather(lo, hi - lo)]


def _exact_phrase_freqs(slot_arrs: list[np.ndarray], scored: bool):
    """Exact phrase (slop <= 0) freqs over per-slot occurrence keys
    ``ord << 32 | (pos - slot)``: aligned occurrences are the
    smallest-first intersection chain of every slot, and a doc's freq is
    the run length of its ord among them."""
    order = np.argsort([len(a) for a in slot_arrs])
    hits = slot_arrs[order[0]]
    for oi in order[1:]:
        if not len(hits):
            break
        hits = _intersect_sorted(hits, slot_arrs[oi])
    return _doc_freqs(hits >> 32, scored)


def _sloppy_phrase_freqs(
    slot_arrs: list[np.ndarray], slop: int, scored: bool
):
    """Sloppy phrase freqs: ``scoring.sloppy_phrase_freq``'s advance-min
    loop, run for every doc at once over per-slot occurrence keys.

    The loop's heap pops occurrences in (key, slot) order, so a stable
    sort of the concatenated slot keys replays its pops.  When x (slot i)
    pops, slot j's head is its first key >= x, or > x for j < i (a tied
    key of a lower slot popped first).  x is processed only while every
    slot still has a head in x's doc — the loop stops once a slot runs
    out — and its window is max(head) - x.  bincount sums 1/(1+window)
    per doc in pop order, as the loop does, so the freqs are
    bit-identical to it."""
    keys = np.concatenate(slot_arrs)
    slot = np.repeat(np.arange(len(slot_arrs)), [len(a) for a in slot_arrs])
    order = np.argsort(keys, kind="stable")
    xs, xslot = keys[order], slot[order]
    docs = xs >> 32
    ok = np.ones(len(xs), dtype=bool)
    top = xs.copy()
    for j, kj in enumerate(slot_arrs):
        last = len(kj) - 1
        nxt = np.searchsorted(kj, xs)
        nxt += (xslot > j) & (kj[np.minimum(nxt, last)] == xs)
        head = kj[np.minimum(nxt, last)]
        ok &= (nxt <= last) & ((head >> 32) == docs)
        np.maximum(top, head, out=top)
    window = top - xs
    ok &= window <= slop
    if not scored:
        return _doc_freqs(docs[ok], False)
    return _doc_freqs(docs[ok], True, 1.0 / (1.0 + window[ok]))


class _Evaluator:
    """Evaluates one compiled query against one (category, band) block group.

    Posting blocks are decoded LAZILY per term — the block-max top-k path
    (``eval_topk``) can skip whole terms and whole blocks without paying
    their decode cost."""

    def __init__(self, rows_by_term: dict, df_map: dict, n_docs: float,
                 k1: float, b: float, avgdl: dict, scored: bool, needs_pos: bool,
                 tid_map: dict | None = None,
                 dl_by_field: dict | None = None, band_start: int = 0,
                 dead: np.ndarray | None = None,
                 norm_safety: dict | None = None):
        # rows_by_term is keyed by term_id (numeric postings key), each
        # term's block rows as column arrays (_split_by_term); tid_map
        # translates the AST's (field, term) to it.  Virtual doc sets arrive
        # as ordinary rows under their ``(__virtual__, key)`` term_id.
        self.rows_by_term = rows_by_term
        self.tid_map = tid_map if tid_map is not None else {}
        self.terms: dict = {}  # decode cache: term_id -> _TermData
        self.df_map = df_map  # (field, term) -> GLOBAL df
        self.n_docs = n_docs
        self.k1 = k1
        self.b = b
        self.avgdl = avgdl
        self.scored = scored
        self.needs_pos = needs_pos
        #: per-band packed per-doc field lengths (BM25 norms sidecar);
        #: indexed by ord - band_start
        self.dl_by_field = dl_by_field or {}
        self.band_start = np.int64(band_start)
        #: sorted TOMBSTONED ords of this band (docs superseded by appends) —
        #: dropped from every decoded posting list BEFORE scoring/top-k
        self.dead = dead if dead is not None and len(dead) else None
        #: per-field block-max inflation covering avgdl drift since encode
        self.norm_safety = norm_safety or {}
        #: construct key -> sorted term_ids present in THIS group (from the
        #: distributed expansion tags riding the eval shuffle)
        self.construct_tids: dict[str, list[int]] = {}

    def _term_by_id(self, tid: int) -> _TermData | None:
        """Decode-cache lookup by numeric term_id (distributed expansions
        know ids, not strings; shares the cache _term fills)."""
        td = self.terms.get(tid)
        if td is None and tid in self.rows_by_term:
            td = self._decode(self.rows_by_term[tid])
            self.terms[tid] = td
        return td

    def _decode(self, rows: dict[str, np.ndarray]) -> _TermData:
        """Decode + tombstone-filter one term's blocks (all decode paths
        come through here so dead ords can never reach scoring or top-k)."""
        td = _decode_rows(rows, self.needs_pos)
        dead = self.dead
        if dead is None or len(td.ids) == 0:
            return td
        idx = np.searchsorted(dead, td.ids)
        hit = dead[np.minimum(idx, len(dead) - 1)] == td.ids
        if not hit.any():
            return td
        keep = ~hit
        # positions stay LAZY through the tombstone filter: the raw stream
        # + full tfs + keep mask ride along and the deferred decode applies
        # the mask itself.  Already-eager po/pf (external constructors,
        # e.g. the streaming batch path) filter here as before.
        po = pf = None
        if td._po is not None:
            lens = np.diff(td._po)
            klens = lens[keep]
            pf = td._pf[_ragged_gather(td._po[:-1][keep], klens.astype(np.int64))]
            po = np.concatenate([[0], np.cumsum(klens)]).astype(np.int64)
        return _TermData(
            td.ids[keep], td.tfs[keep], po, pf,
            pos_raw=td._raw, full_tfs=td._full_tfs, keep=keep,
        )

    def _dls(self, field: str, ids: np.ndarray) -> np.ndarray:
        """Per-doc lengths of ``field`` for the given ords (norms lookup)."""
        arr = self.dl_by_field.get(field)
        if arr is None:
            return np.ones(len(ids))
        return arr[ids - self.band_start].astype(np.float64)

    def _term(self, field: str, term: str) -> _TermData | None:
        key = self.tid_map.get((field, term))
        if key is None:
            return None
        td = self.terms.get(key)
        if td is None and key in self.rows_by_term:
            td = self._decode(self.rows_by_term[key])
            self.terms[key] = td
        return td

    def _term_ub(self, field: str, term: str) -> float:
        """Block-max upper bound for one term — from metadata, no decode.
        Blocks carry the df-independent ``max_norm``; idf folds in here
        from the dictionary's global df (df_map).  ``norm_safety`` covers
        avgdl drift since block encode (appends)."""
        rows = self.rows_by_term.get(self.tid_map.get((field, term)))
        if rows is None:
            return 0.0
        return (
            self._idf(field, term)
            * float(rows["max_norm"].max())
            * self.norm_safety.get(field, 1.0)
        )

    def _clause_ub(self, node: qp.Node) -> float:
        """Max possible BM25 contribution of a SHOULD clause."""
        if isinstance(node, qp.TermNode):
            return self._term_ub(node.field, node.term)
        if isinstance(node, qp.OrTermsNode):
            return sum(self._term_ub(node.field, t) for t in node.terms)
        if isinstance(node, qp.PhraseNode):
            idf_sum = sum(self._idf(node.field, t) for s in node.slots for t in s)
            return idf_sum * (self.k1 + 1.0)  # tf_norm < k1+1 for any tf
        if isinstance(node, (ExpandedTermsNode, VirtualDocsNode)):
            return 1.0
        if isinstance(node, ExpandedFuzzyNode):
            return sum(
                b * self._term_ub(node.field, t)
                for t, b in zip(node.terms, node.boosts)
            )
        if isinstance(node, qp.DisMaxNode):
            ubs = [self._clause_ub(c) for c in node.children]
            if not ubs:
                return 0.0
            t = node.tie_breaker
            return (1.0 - t) * max(ubs) + t * sum(ubs)
        if isinstance(node, qp.BoostNode):
            return node.boost * self._clause_ub(node.child)
        return float("inf")  # nested bool etc: no bound, never skipped

    def _idf(self, field: str, term: str) -> float:
        return float(scoring.idf(float(self.df_map.get((field, term), 0)), self.n_docs))

    def _score_term(self, td: _TermData, field: str, term: str) -> np.ndarray:
        if not self.scored:
            return np.zeros(len(td.ids))
        return self._idf(field, term) * scoring.tf_norm(
            td.tfs.astype(np.float64), self._dls(field, td.ids),
            self.avgdl[field], self.k1, self.b,
        )

    # -- block-max dynamic pruning (MaxScore/WAND family) --------------------

    def eval_topk(self, node: qp.Node, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k with block-max pruning for disjunctive queries.

        Two phases over SHOULD clauses sorted by descending upper bound:
        while new docs could still enter the top-k (sum of remaining clause
        upper bounds >= current k-th score), clauses are fully evaluated and
        union-accumulated; afterwards remaining clauses only UPDATE existing
        candidates — candidates whose score + remaining bound is strictly
        below the k-th are dropped, and term blocks outside the candidate
        id-range or unable to lift any candidate above the threshold are
        skipped without decoding.  Exactness: a doc first seen in phase 2
        would score < remaining_ub < theta = k-th score, i.e. strictly below
        the k-th — it loses even the doc_id tie-break.  Non-disjunctive
        queries fall back to full evaluation."""
        clauses = self._flatten_disjunction(node)
        if clauses is None:
            ids, sc = self.eval(node)
            return _topk_keep_ties(ids, sc, k)
        scorers = sorted(
            ((self._clause_ub(c), c) for c in clauses), key=lambda x: -x[0]
        )
        ubs = [u for u, _ in scorers]
        suffix = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
        acc_ids, acc_sc = _EMPTY, np.empty(0)
        for i, (ub_c, c) in enumerate(scorers):
            theta = _kth_score(acc_sc, k)
            if theta > suffix[i]:  # strict: new docs can no longer enter
                rest = float(suffix[i])
                for ub_j, cj in scorers[i:]:
                    theta = _kth_score(acc_sc, k)
                    keep = acc_sc + rest >= theta  # strict-drop only
                    acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]
                    if len(acc_ids) == 0:
                        break
                    cids, csc = self._eval_clause_restricted(
                        cj, acc_ids, float(acc_sc.max()), rest, theta
                    )
                    if len(cids):
                        mask, idx = _member_mask(cids, acc_ids)
                        acc_sc = acc_sc.copy()
                        acc_sc[idx[mask]] += csc[mask]
                    rest -= ub_j
                break
            cids, csc = self.eval(c)
            acc_ids, acc_sc = _union_add(acc_ids, acc_sc, cids, csc)
        return _topk_keep_ties(acc_ids, acc_sc, k)

    def _flatten_disjunction(self, node: qp.Node) -> list[qp.Node] | None:
        if isinstance(node, (qp.TermNode, qp.OrTermsNode, qp.PhraseNode,
                             ExpandedTermsNode, ExpandedFuzzyNode,
                             qp.DisMaxNode, qp.BoostNode)):
            return [node]
        if isinstance(node, qp.BoolNode) and all(
            o is qp.Occur.SHOULD for o, _ in node.clauses
        ):
            return [c for _, c in node.clauses]
        return None

    def _eval_clause_restricted(
        self, node: qp.Node, acc_ids: np.ndarray, max_acc: float,
        rest: float, theta: float
    ) -> tuple[np.ndarray, np.ndarray]:
        """Evaluate a clause only for docs already in the accumulator; for
        plain terms, blocks outside [min,max] of the accumulator or whose
        max contribution cannot lift even the best candidate are skipped
        UNDECODED."""
        if isinstance(node, qp.TermNode):
            rows = self.rows_by_term.get(self.tid_map.get((node.field, node.term)))
            if rows is None:
                return _EMPTY, _EMPTY
            lo, hi = int(acc_ids[0]), int(acc_ids[-1])
            keep = (rows["max_docid"] >= lo) & (rows["min_docid"] <= hi)
            # block-max test: can this block lift ANY candidate over theta?
            # per-block ub = idf * max_norm * drift safety (see _term_ub)
            idf_t = self._idf(node.field, node.term)
            safety = self.norm_safety.get(node.field, 1.0)
            keep &= (max_acc + idf_t * safety * rows["max_norm"] + (rest - self._term_ub(node.field, node.term))) >= theta
            if not keep.any():
                return _EMPTY, _EMPTY
            td = self._decode(_take_rows(rows, keep))
            sc = self._idf(node.field, node.term) * scoring.tf_norm(
                td.tfs.astype(np.float64), self._dls(node.field, td.ids),
                self.avgdl[node.field], self.k1, self.b,
            )
            return td.ids, sc
        return self.eval(node)

    def eval(self, node: qp.Node) -> tuple[np.ndarray, np.ndarray]:
        """Returns (sorted doc_ids, scores)."""
        if isinstance(node, qp.MatchNoneNode):
            return _EMPTY, _EMPTY
        if isinstance(node, qp.TermNode):
            td = self._term(node.field, node.term)
            if td is None:
                return _EMPTY, _EMPTY
            return td.ids, self._score_term(td, node.field, node.term)
        if isinstance(node, qp.OrTermsNode):
            return _union_add_many(
                [
                    (td.ids, self._score_term(td, node.field, t))
                    for t in node.terms
                    if (td := self._term(node.field, t)) is not None
                ]
            )
        if isinstance(node, ExpandedTermsNode):
            if node.terms is None:
                # distributed expansion: the group's rows tagged with this
                # construct key ARE the expansion (terms never enumerated
                # driver-side); constant-score union over their postings
                ids = _union_ids_many(
                    [
                        td.ids
                        for tid in self.construct_tids.get(node.key, ())
                        if (td := self._term_by_id(tid)) is not None
                    ]
                )
                return ids, np.ones(len(ids))
            ids = _union_ids_many(
                [
                    td.ids
                    for t in node.terms
                    if (td := self._term(node.field, t)) is not None
                ]
            )
            return ids, np.ones(len(ids))
        if isinstance(node, VirtualDocsNode):
            td = self._term(VIRTUAL_FIELD, node.key)
            if td is None:
                return _EMPTY, _EMPTY
            return td.ids, np.ones(len(td.ids))
        if isinstance(node, ExpandedFuzzyNode):
            return _union_add_many(
                [
                    (td.ids, boost * self._score_term(td, node.field, t))
                    for t, boost in zip(node.terms, node.boosts)
                    if (td := self._term(node.field, t)) is not None
                ]
            )
        if isinstance(node, qp.DisMaxNode):
            return self._eval_dismax(node)
        if isinstance(node, qp.BoostNode):
            ids, sc = self.eval(node.child)
            return ids, sc * node.boost
        if isinstance(node, qp.PhraseNode):
            return self._eval_phrase(node)
        if isinstance(node, qp.BoolNode):
            return self._eval_bool(node)
        raise TypeError(f"unknown node {type(node)}")

    def _eval_dismax(self, node: qp.DisMaxNode) -> tuple[np.ndarray, np.ndarray]:
        """Union of children; per-doc score ``(1-t)*max + t*sum`` — the
        dis-max combination ``max + tie_breaker*(sum of the rest)``."""
        t = node.tie_breaker
        parts = [
            (cids, csc)
            for cids, csc in (self.eval(c) for c in node.children)
            if len(cids)
        ]
        if not parts:
            return _EMPTY, _EMPTY
        if len(parts) == 1:
            return parts[0][0], parts[0][1].astype(np.float64)
        # one-shot union: per-doc max via ufunc.at, sum via bincount (a doc
        # appears at most once per child, so the per-child semantics hold)
        allids = np.concatenate([i for i, _ in parts])
        allsc = np.concatenate([s for _, s in parts]).astype(np.float64)
        ids, inverse = np.unique(allids, return_inverse=True)
        sm = np.bincount(inverse, weights=allsc, minlength=len(ids))
        mx = np.full(len(ids), -np.inf)
        np.maximum.at(mx, inverse, allsc)
        return ids, (1.0 - t) * mx + t * sm

    # adjusted positions are packed into the low 32 key bits with this
    # offset so (pos - slot_index) stays non-negative; windows/equality are
    # differences, so the offset cancels everywhere it is consumed
    _POS_OFF = np.int64(1 << 12)

    def _eval_phrase(self, node: qp.PhraseNode) -> tuple[np.ndarray, np.ndarray]:
        """Phrase evaluation over CACHED per-(term, slot) occurrence-key
        arrays (_TermData.adj_keys), for both bool and scored mode: one
        frequency kernel per phrase kind (``_exact_phrase_freqs``,
        ``_sloppy_phrase_freqs``), vectorized over every doc at once, so
        terms shared across phrases amortize their key build and no
        per-doc python loop runs.  Bool mode keeps the docs with a
        non-zero freq and skips the weight sum; scored mode applies
        ``idf_sum * tf_norm(freq)``.  A docid-level pregate keeps the lazy
        position decode: slots whose docid intersection is already empty
        never force it."""
        slot_tds: list[list[_TermData]] = []
        for slot in node.slots:
            tds = [
                td
                for t in slot
                if (td := self._term(node.field, t)) is not None
            ]
            if not tds:
                return _EMPTY, _EMPTY
            for td in tds:
                if not td.has_pos:  # cheap check — does NOT force decode
                    raise RuntimeError(
                        "phrase term arrived without positions — posdata "
                        "gating dropped a stream the evaluator needs"
                    )
            slot_tds.append(tds)
        # docid pregate: candidate docs hold a term of every slot.  It runs
        # while some slot term's positions are undecoded — an empty
        # candidate set never forces the lazy decode — and for every sloppy
        # phrase, whose kernel then sees only keys of candidate docs: a
        # common term's keys elsewhere would cost a sort for nothing.  An
        # exact phrase's smallest-first key chain is its own gate.
        sloppy = node.slop > 0
        if sloppy or any(td._po is None for tds in slot_tds for td in tds):
            cand = None
            for tds in slot_tds:
                slot_ids = (
                    tds[0].ids
                    if len(tds) == 1
                    else _union_ids_many([td.ids for td in tds])
                )
                cand = (
                    slot_ids
                    if cand is None
                    else _intersect_sorted(cand, slot_ids)
                )
                if len(cand) == 0:
                    return _EMPTY, _EMPTY
        slot_arrs = []
        for si, tds in enumerate(slot_tds):
            arrs = [td.adj_keys(si, self._POS_OFF) for td in tds]
            if sloppy:
                arrs = [_keys_in_docs(a, cand) for a in arrs]
            a = arrs[0] if len(arrs) == 1 else _union_ids_many(arrs)
            if not len(a):
                return _EMPTY, _EMPTY
            slot_arrs.append(a)
        if sloppy:
            ids, freqs = _sloppy_phrase_freqs(slot_arrs, node.slop, self.scored)
        else:
            ids, freqs = _exact_phrase_freqs(slot_arrs, self.scored)
        if not len(ids):
            return _EMPTY, _EMPTY
        if not self.scored:
            return ids, np.zeros(len(ids))
        idf_sum = sum(
            self._idf(node.field, t) for slot in node.slots for t in slot
        )
        sc = idf_sum * scoring.tf_norm(
            freqs, self._dls(node.field, ids),
            self.avgdl[node.field], self.k1, self.b,
        )
        return ids, sc

    def _eval_bool(self, node: qp.BoolNode) -> tuple[np.ndarray, np.ndarray]:
        must = [(o, c) for o, c in node.clauses if o is qp.Occur.MUST]
        should = [c for o, c in node.clauses if o is qp.Occur.SHOULD]
        must_not = [c for o, c in node.clauses if o is qp.Occur.MUST_NOT]
        filters = [c for o, c in node.clauses if o is qp.Occur.FILTER]
        ids: np.ndarray
        sc: np.ndarray
        if must:
            ids, sc = self.eval(must[0][1])
            for _, child in must[1:]:
                cids, csc = self.eval(child)
                ids, sc = _intersect_add(ids, sc, cids, csc)
                if len(ids) == 0:
                    return _EMPTY, _EMPTY
            # filter context: restrict candidates, contribute NO score —
            # intersect drops non-matching docs before SHOULD boosts and
            # before any top-k cut (the reference's Must/Filter split)
            for child in filters:
                fids, _ = self.eval(child)
                mask, _ = _member_mask(ids, fids)
                ids, sc = ids[mask], sc[mask]
                if len(ids) == 0:
                    return _EMPTY, _EMPTY
            # SHOULD only adds score on the MUST-filtered set
            for child in should:
                cids, csc = self.eval(child)
                mask, idx = _member_mask(cids, ids)
                sc = sc.copy()
                sc[idx[mask]] += csc[mask]
        elif filters:
            # filter-context candidates (constant sets, no score); SHOULDs
            # become optional scorers — minimum_should_match defaults to 0
            # when a filter/must is present (OpenSearch bool semantics)
            ids, _ = self.eval(filters[0])
            for child in filters[1:]:
                fids, _ = self.eval(child)
                ids = _intersect_sorted(ids, fids)
                if len(ids) == 0:
                    return _EMPTY, _EMPTY
            sc = np.zeros(len(ids))
            for child in should:
                cids, csc = self.eval(child)
                mask, idx = _member_mask(cids, ids)
                sc = sc.copy()
                sc[idx[mask]] += csc[mask]
        elif should:
            # one-shot union over ALL should clauses (see _union_add_many)
            ids, sc = _union_add_many([self.eval(child) for child in should])
        else:
            return _EMPTY, _EMPTY  # pure negative matches nothing
        for child in must_not:
            nids, _ = self.eval(child)
            ids, sc = _andnot(ids, sc, nids)
            if len(ids) == 0:
                break
        return ids, sc


# --------------------------------------------------------------------------
# The run: one eval kernel, two fetchers
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class EvalPlan:
    """What the eval kernel reads besides its blocks: the compile, the
    index stats and the run's mode.  The Spark fetcher builds it in each
    task from broadcasts, the driver fetcher once per call."""

    field_names: list[str]
    compiled: dict[str, qp.Node]
    df_map: dict
    tid_map: dict
    chunk_cids: dict[int, list[str]]
    n_docs: float
    avgdl: dict[str, float]
    norm_safety: dict[str, float]
    ord_shift: int
    k1: float
    b: float
    scored: bool
    top_k: int | None
    #: block-max top-k threshold (``_TOPK_MIN_POSTINGS`` at plan time)
    topk_min_postings: int
    #: cid -> (needed term_ids, distributed construct keys), filled on
    #: use; the driver fetcher shares one across a compile's calls
    needed: dict = dataclasses.field(default_factory=dict)

    def needed_tids(self, cid: str) -> tuple[list, list[str]]:
        out = self.needed.get(cid)
        if out is None:
            node = self.compiled[cid]
            out = (
                [self.tid_map.get(k) for k in needed_terms(node)],
                sorted(distributed_constructs(node)),
            )
            self.needed[cid] = out
        return out


def _plan_scalars(
    reader: IndexReader, config: EngineConfig, scored: bool, top_k: int | None
) -> dict:
    return dict(
        n_docs=float(reader.n_docs),
        avgdl=dict(reader.avgdl),
        norm_safety=dict(reader.norm_safety),
        ord_shift=reader.ord_shift,
        k1=config.k1,
        b=config.b,
        scored=scored,
        top_k=top_k,
        topk_min_postings=_TOPK_MIN_POSTINGS,
    )


def eval_group(key: tuple, pdf: pd.DataFrame, plan: EvalPlan) -> pd.DataFrame:
    """THE eval kernel: one (chunk, band) group's blocks -> its
    (category_id, doc_id, score) rows.  Both fetchers call it: the Spark
    one inside ``applyInPandas``, the driver one in process."""
    chunk, band = int(key[0]), int(key[1])
    _dumpdir = os.environ.get("SPARK_GRAFT_EVAL_DUMP")
    if _dumpdir:  # diagnostic: replay one group in tools/kernel_bench.py
        try:
            pdf.to_parquet(f"{_dumpdir}/group_{chunk}_{band}.parquet")
        except Exception:
            pass
    cids = plan.chunk_cids[chunk]
    nodes = {cid: plan.compiled[cid] for cid in cids}
    needs_pos = any(has_phrase(n) for n in nodes.values())
    rows_by_term = _split_by_term(pdf)
    ordmap, dead, dl_by_field = band_sidecars(
        rows_by_term.pop(DOCMAP_TID, None), plan.field_names
    )
    band_start = np.int64(band) << np.int64(plan.ord_shift)
    ev = _Evaluator(
        rows_by_term, plan.df_map, plan.n_docs, plan.k1, plan.b, plan.avgdl,
        plan.scored, needs_pos, plan.tid_map, dl_by_field, int(band_start),
        dead=dead, norm_safety=plan.norm_safety,
    )
    if "vkeys" in pdf.columns:
        # distributed expansion tags: which of this group's term_ids
        # belong to which construct (one pass over rows with tags)
        cmap: dict[str, set[int]] = {}
        vk_col = pdf["vkeys"]
        mask = vk_col.map(lambda v: v is not None and len(v) > 0)
        for tid_v, vk in zip(
            pdf.loc[mask, "term_id"].to_numpy(), vk_col[mask]
        ):
            for k in vk:
                cmap.setdefault(k, set()).add(int(tid_v))
        ev.construct_tids = {k: sorted(v) for k, v in cmap.items()}
    # block-max top-k needs each category's postings count in this group
    count = plan.top_k is not None and plan.scored
    if count:
        n_by_term = {t: int(rows["n"].sum()) for t, rows in rows_by_term.items()}
    frames = []
    for cid in cids:
        node = nodes[cid]
        if count:
            tids, ckeys = plan.needed_tids(cid)
            group_postings = sum(n_by_term.get(t, 0) for t in tids) + sum(
                n_by_term.get(t, 0)
                for ckey in ckeys
                for t in ev.construct_tids.get(ckey, ())
            )
        if count and group_postings >= plan.topk_min_postings:
            # per-band block-max top-k: the in-band cut keeps boundary
            # score-TIES (ord order is not doc_id order) so the global
            # (score desc, doc_id asc) window stays exact
            ids, sc = ev.eval_topk(node, plan.top_k)
        else:
            ids, sc = ev.eval(node)
        if ordmap is not None and len(ids):
            ids = ordmap[ids - band_start]  # ord -> external doc_id
        if plan.top_k is not None and len(ids) > plan.top_k:
            ids, sc = _partial_topk(ids, sc, plan.top_k)
        frames.append(pd.DataFrame({"category_id": cid, "doc_id": ids, "score": sc}))
    return pd.concat(frames, ignore_index=True)


RESULT_ARROW_SCHEMA = pa.schema(
    [("category_id", pa.string()), ("doc_id", pa.int64()), ("score", pa.float64())]
)


def result_frame(spark: SparkSession, hits: pd.DataFrame) -> DataFrame:
    """Driver-held rows as a DataFrame over a LocalRelation: collecting it
    runs no Spark job (an Arrow table, not pandas: an empty pandas frame
    takes the row-conversion path, which does)."""
    return spark.createDataFrame(
        pa.Table.from_pandas(
            hits[["category_id", "doc_id", "score"]],
            schema=RESULT_ARROW_SCHEMA,
            preserve_index=False,
        ),
        RESULT_SCHEMA,
    )


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({
        "category_id": pd.Series([], dtype=object),
        "doc_id": _EMPTY,
        "score": np.empty(0),
    })


def run_categories(
    spark: SparkSession,
    reader: IndexReader,
    categories: list[tuple[str, str]],
    scored: bool = True,
    top_k: int | None = None,
    config: EngineConfig | None = None,
    extra_filters: tuple[qp.Node, ...] | None = None,
) -> DataFrame:
    """Evaluate all category queries against the whole index.

    Returns DataFrame (category_id, doc_id, score) — full match sets, or
    top-k per category when ``top_k`` is given (ties broken doc_id asc,
    mirroring rank order (score desc, doc_id asc)).

    ``extra_filters``: metadata clauses applied in FILTER context to every
    query — compiled as virtual posting sets that intersect candidates
    INSIDE the evaluator, before scoring accumulation and before the
    per-band top-k cut (the reference's Must/Filter split,
    OpenSearchConnection.cs:393-402), never as a post-join.

    Two fetchers feed one eval kernel (:func:`eval_group`).  A call the
    driver serves (see :func:`run_categories_local`) is EVALUATED HERE,
    when this function is called, and comes back as a DataFrame over the
    driver-held rows; every other call returns the lazy Spark plan, which
    evaluates at the action."""
    config = config or reader.config
    call = _prepare_call(reader, categories, config, extra_filters)
    if call is None:
        return result_frame(spark, _empty_hits())
    hits = _run_local(reader, call, scored, top_k, config)
    if hits is not None:
        return result_frame(spark, hits)
    return _run_spark(spark, reader, call, scored, top_k, config)


def run_categories_local(
    reader: IndexReader,
    categories: list[tuple[str, str]],
    scored: bool = True,
    top_k: int | None = None,
    config: EngineConfig | None = None,
    extra_filters: tuple[qp.Node, ...] | None = None,
) -> pd.DataFrame | None:
    """:func:`run_categories`' rows as a pandas frame when the driver
    serves the call, else None (the caller then runs the Spark plan).

    The driver serves a call when the reader holds a driver snapshot
    (``LOCAL_SNAPSHOT_MAX_BYTES``) and the call's blocks hold at most
    ``LOCAL_MAX_POSTINGS`` postings: it reads them with pyarrow and runs
    the same kernel per (chunk, band) in process, with no Spark job."""
    config = config or reader.config
    call = _prepare_call(reader, categories, config, extra_filters)
    if call is None:
        return _empty_hits()
    return _run_local(reader, call, scored, top_k, config)


@dataclass
class _Call:
    """One run's compile plus the routing both fetchers share."""

    compiled: dict[str, qp.Node]
    virtual: dict[str, qp.Node]
    df_map: dict
    bucket_map: dict
    tid_map: dict
    #: (field, term) -> categories needing it
    term_cats: dict
    #: distributed construct key -> categories needing it
    construct_cats: dict
    chunk_of: dict[str, int]
    chunk_cids: dict[int, list[str]]
    #: (term_id, chunk) -> ship positions; docmap rows included per chunk
    term_chunks: dict[tuple[int, int], bool]
    #: cache key for per-compile artifacts (routing rows, broadcasts)
    bkey: tuple
    #: the driver fetcher's per-category needed term ids (EvalPlan.needed)
    needed: dict = dataclasses.field(default_factory=dict)


def _prepare_call(
    reader: IndexReader,
    categories: list[tuple[str, str]],
    config: EngineConfig,
    extra_filters: tuple[qp.Node, ...] | None,
) -> _Call | None:
    """Compile, fold in the filters and route terms to category chunks;
    None when no category needs any posting.  Cached per reader like the
    compile: the routing of a compile never changes."""
    bkey = (tuple(categories), config, extra_filters)
    if bkey in reader._call_cache:
        reader._call_cache.move_to_end(bkey)
        return reader._call_cache[bkey]
    call = _route_call(reader, categories, config, extra_filters, bkey)
    reader._call_cache[bkey] = call
    while len(reader._call_cache) > reader.compile_cache_max:
        reader._call_cache.popitem(last=False)
    return call


def _route_call(
    reader: IndexReader,
    categories: list[tuple[str, str]],
    config: EngineConfig,
    extra_filters: tuple[qp.Node, ...] | None,
    bkey: tuple,
) -> _Call | None:
    compiled, virtual, df_map, bucket_map, tid_map = compile_queries(
        reader, categories, config
    )
    if extra_filters:
        from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
            term_id_of,
        )

        # never mutate the compile cache's shared dicts
        virtual = dict(virtual)
        tid_map = dict(tid_map)
        fclauses = []
        for fnode in extra_filters:
            key = repr(fnode)
            virtual[key] = fnode
            tid_map[(VIRTUAL_FIELD, key)] = term_id_of(VIRTUAL_FIELD, key)
            fclauses.append((qp.Occur.FILTER, VirtualDocsNode(key, fnode)))
        compiled = {
            cid: qp.BoolNode(tuple([(qp.Occur.MUST, node)] + fclauses))
            for cid, node in compiled.items()
        }

    term_cats: dict[tuple[str, str], list[str]] = {}
    construct_cats: dict[str, list[str]] = {}
    for cid, node in compiled.items():
        for key in needed_terms(node):
            term_cats.setdefault(key, []).append(cid)
        for ckey in distributed_constructs(node):
            construct_cats.setdefault(ckey, []).append(cid)
    if not term_cats and not construct_cats:
        return None

    # categories are evaluated in CHUNKS of one task per (chunk, band); all
    # categories of a chunk share one decoded-term cache per task.  The
    # default chunk size is large enough that a normal taxonomy run is ONE
    # chunk — parallelism comes from the doc_id BANDS (an index property,
    # set at build), so each posting block ships through the eval shuffle
    # exactly once.  Smaller chunks re-ship shared terms once per chunk;
    # they only pay off when a single band's working set outgrows task
    # memory before bands can be raised at build time.
    sorted_cids = sorted(compiled)
    chunk_size = max(1, int(config.eval_chunk_size))
    chunk_of = {cid: i // chunk_size for i, cid in enumerate(sorted_cids)}
    chunk_cids: dict[int, list[str]] = {}
    for cid, ch in chunk_of.items():
        chunk_cids.setdefault(ch, []).append(cid)

    # positions are only decoded for phrase slots: ship posdata for a
    # (term, chunk) only if some category of the chunk uses the term in a
    # phrase — posdata is the largest stream and most terms are term/bool
    pos_keys: dict[tuple[str, str], set[str]] = {}
    for cid, node in compiled.items():
        for key in phrase_terms(node):
            pos_keys.setdefault(key, set()).add(cid)
    term_chunks: dict[tuple[int, int], bool] = {}
    for (f, t), cids in term_cats.items():
        if (f, t) not in tid_map:  # absent from dictionary -> no postings
            continue
        tid = tid_map[(f, t)]
        pcs = pos_keys.get((f, t), ())
        for c in cids:
            ch = chunk_of[c]
            term_chunks[(tid, ch)] = term_chunks.get((tid, ch), False) or (c in pcs)
    if not term_chunks and not construct_cats:
        return None
    # one DOCMAP row set per chunk: the per-band ord->doc_id arrays reach
    # every (chunk, band) eval group.  A side effect worth keeping: every
    # (chunk, band) group EXISTS even when no real posting lands in it, so
    # virtual-only categories evaluate in every band deterministically
    # regardless of chunk packing.
    for ch in chunk_cids:
        term_chunks[(DOCMAP_TID, ch)] = False
    return _Call(
        compiled, virtual, df_map, bucket_map, tid_map, term_cats,
        construct_cats, chunk_of, chunk_cids, term_chunks, bkey,
    )


def _routing_rows(call: _Call) -> pd.DataFrame:
    """(term_id, chunk, needs_pos): the rows that tag blocks with the
    chunks needing them (a block of a term shared by chunks repeats)."""
    rows = sorted((tid, ch, np_) for (tid, ch), np_ in call.term_chunks.items())
    return pd.DataFrame(rows, columns=["term_id", "chunk", "needs_pos"]).astype(
        {"term_id": "int64", "chunk": "int32", "needs_pos": "bool"}
    )


def _eval_cols(scored: bool) -> list[str]:
    # bool matching needs neither length norms (dls) nor block-max metadata
    cols = ["term_id", "chunk", "salt", "band", "blk_seq", "n",
            "docids", "tfs", "posdata"]
    if scored:
        cols += ["min_docid", "max_docid", "max_norm"]
    return cols


def _run_local(
    reader: IndexReader,
    call: _Call,
    scored: bool,
    top_k: int | None,
    config: EngineConfig,
) -> pd.DataFrame | None:
    """The driver fetcher: None unless the call was compiled against the
    reader's snapshot and its blocks hold at most LOCAL_MAX_POSTINGS
    postings; otherwise the call's rows, evaluated in process."""
    snap = reader.snapshot()
    if snap is None or call.construct_cats:
        return None
    estimate = sum(call.df_map.get(k, 0) for k in call.term_cats) + sum(
        len(snap.virtual_ords(key, node)) for key, node in call.virtual.items()
    )
    if estimate > LOCAL_MAX_POSTINGS:
        return None
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        BLOCKS_SCHEMA,
    )

    parts = []
    tids = sorted({t for t, _ in call.term_chunks} - {DOCMAP_TID})
    buckets = sorted(
        {call.bucket_map[k] for k in call.term_cats if k in call.bucket_map}
    )
    if buckets:
        parts.append(
            snap.postings(tids, buckets, [f.name for f in BLOCKS_SCHEMA.fields])
        )
    for key in sorted(call.virtual):
        vb = snap.virtual_blocks(
            key, call.virtual[key], call.tid_map[(VIRTUAL_FIELD, key)],
            reader.ord_bits, reader.band_bits, config.block_size,
        )
        if vb is not None:
            parts.append(vb)
    parts.append(snap.docmap_rows(scored))
    # the Spark plan's routing join and position drop, in pandas
    tagged = pd.concat(parts, ignore_index=True).merge(
        _routing_rows(call), on="term_id"
    )
    tagged["posdata"] = tagged["posdata"].where(tagged["needs_pos"], None)
    cols = _eval_cols(scored)
    plan = EvalPlan(
        field_names=[f.name for f in config.fields],
        compiled=call.compiled,
        df_map=call.df_map,
        tid_map=call.tid_map,
        chunk_cids=call.chunk_cids,
        needed=call.needed,
        **_plan_scalars(reader, config, scored, top_k),
    )
    frames = [
        eval_group(key, g[cols].reset_index(drop=True), plan)
        for key, g in tagged.groupby(["chunk", "band"], sort=True)
    ]
    hits = pd.concat(frames, ignore_index=True) if frames else _empty_hits()
    if top_k is not None:
        # the Spark plan's window: per category (score desc, doc_id asc)
        hits = (
            hits.sort_values(
                ["category_id", "score", "doc_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            .groupby("category_id", sort=False)
            .head(top_k)
            .reset_index(drop=True)
        )
    return hits


def _run_spark(
    spark: SparkSession,
    reader: IndexReader,
    call: _Call,
    scored: bool,
    top_k: int | None,
    config: EngineConfig,
) -> DataFrame:
    """The Spark fetcher: block scan + routing join + one applyInPandas
    group per (chunk, band)."""
    compiled, virtual, tid_map = call.compiled, call.virtual, call.tid_map
    bkey = call.bkey
    # pandas -> Arrow path: a plain-list createDataFrame goes through the
    # Python-RDD converter (~150-250 ms of driver time PER QUERY); the
    # Arrow path is ~10x cheaper and dominates warm single-query latency
    terms_df = spark.createDataFrame(_routing_rows(call))
    # DISTRIBUTED expansions: each used construct's term_id DataFrame joins
    # into the term routing, tagged with its construct key — the driver
    # knows only counts + hosting buckets (bounded), never the terms
    construct_chunks = {
        ckey: sorted({call.chunk_of[c] for c in cids})
        for ckey, cids in call.construct_cats.items()
    }
    exp_infos = {
        ckey: reader.expansion_cache[ckey] for ckey in construct_chunks
    }
    exp_buckets = sorted(
        {b for info in exp_infos.values() for b in info.buckets}
    )
    exp_parts = []
    used_ckeys = [
        ckey
        for ckey in sorted(construct_chunks)
        if exp_infos[ckey].n_terms > 0
    ]
    if used_ckeys:
        # ONE (ckey, chunk) mapping + one broadcast join routes every
        # construct's terms (a per-construct createDataFrame cost ~150 ms
        # of driver time each on the wildcard-heavy category fixture);
        # constructs sharing a tagged-scan parent select with one isin
        by_parent: dict[int, tuple[DataFrame, list[str]]] = {}
        for ckey in used_ckeys:
            parent = exp_infos[ckey].parent
            by_parent.setdefault(id(parent), (parent, []))[1].append(ckey)
        cdf = None
        for parent, ckeys in by_parent.values():
            d = parent.where(F.col("ckey").isin(ckeys)).select(
                "ckey", "term_id"
            )
            cdf = d if cdf is None else cdf.unionByName(d)
        pairs_pd = pd.DataFrame(
            [
                (ck, ch)
                for ck in used_ckeys
                for ch in construct_chunks[ck]
            ],
            columns=["ckey", "chunk"],
        ).astype({"chunk": "int32"})
        exp_parts.append(
            cdf.join(F.broadcast(spark.createDataFrame(pairs_pd)), "ckey")
            .select(
                "term_id",
                "chunk",
                F.lit(False).alias("needs_pos"),
                F.array("ckey").alias("vkeys"),
            )
        )
    if exp_parts:
        terms_df = terms_df.withColumn(
            "vkeys", F.array().cast("array<string>")
        )
        for p in exp_parts:
            terms_df = terms_df.unionByName(p)
        # a term can be exact AND belong to several constructs: merge to one
        # routing row per (term, chunk) so each block ships through the
        # shuffle once, carrying ALL its construct tags
        terms_df = terms_df.groupBy("term_id", "chunk").agg(
            F.max("needs_pos").alias("needs_pos"),
            F.array_distinct(F.flatten(F.collect_list("vkeys"))).alias(
                "vkeys"
            ),
        )
        # routing rows are identical for every run of this compile (scored
        # or not) — persist per compile key so the scored pass after a bool
        # pass (and every repeat) skips the union/agg/expansion scans
        if not hasattr(reader, "_terms_df_cache"):
            from collections import OrderedDict

            reader._terms_df_cache = OrderedDict()
        cached_t = reader._terms_df_cache.get(bkey)
        if cached_t is None:
            terms_df = terms_df.persist()
            reader._terms_df_cache[bkey] = terms_df
            while len(reader._terms_df_cache) > 64:
                _, old_t = reader._terms_df_cache.popitem(last=False)
                old_t.unpersist()
        else:
            reader._terms_df_cache.move_to_end(bkey)
            terms_df = cached_t
    band_bits = reader.band_bits
    # bucket pruning: buckets hosting THIS run's needed terms — known from
    # the dictionary fetch in compile_queries (no extra job); terms absent
    # from the dictionary have no postings anywhere.  bucket_map may be a
    # superset (per-category compile cache shares the batch's maps), so
    # filter by the evaluated categories' own terms.  Construct buckets
    # come from the expansion's bounded stats.
    buckets = sorted(
        {call.bucket_map[k] for k in call.term_cats if k in call.bucket_map}
        | set(exp_buckets)
    )
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        BLOCKS_SCHEMA,
    )

    block_cols = [f.name for f in BLOCKS_SCHEMA.fields]
    blocks = None
    if buckets:
        blocks = (
            reader.postings().where(F.col("bucket").isin(buckets)).select(*block_cols)
        )
        # push the term selection into the parquet scan: bucket pruning alone
        # still reads a whole bucket's blocks and discards non-queried terms
        # join-side; an explicit IN filter reaches the scan (PushedFilters)
        # and skips row groups via term_id min/max stats (files are sorted by
        # term_id).  Capped — a giant IN list costs more in planning than it
        # saves; above the cap the broadcast term join alone does the
        # selection.  Construct expansions can't enumerate term_ids driver-
        # side, so their buckets stay un-skipped via the OR leg (both legs
        # push down to parquet stats).
        tids = sorted({t for t, _ in call.term_chunks})
        if len(tids) <= _MAX_PUSHED_TERM_IDS:
            sel = F.col("term_id").isin(tids)
            if exp_buckets:
                sel = sel | F.col("bucket").isin(exp_buckets)
            blocks = blocks.where(sel)
    if virtual:
        vblocks = build_virtual_blocks(reader, virtual, tid_map, config, band_bits)
        blocks = vblocks if blocks is None else blocks.unionByName(vblocks)
    # per-band ord -> doc_id translation arrays as sentinel block rows
    # (payload rides the ``docids`` column; ordering by blk_seq).  The
    # projected DF is cached per (reader, scored): its ~12 chained column
    # expressions cost real py4j latency per query otherwise.
    dmap = getattr(reader, "_dmap_proj", {}).get(scored)
    if dmap is None:
        dmap = reader.docmap()
        if not scored:
            # dl sidecars (ford >= 0) are only read by BM25 length norms;
            # ord->doc_id (-1) and tombstones (-2) are needed in every mode
            dmap = dmap.where(F.col("ford") < 0)
        dmap = dmap.select(
            F.lit(DOCMAP_TID).alias("term_id"),
            F.col("ford").alias("salt"),  # sidecar kind rides the salt column
            F.col("band"),
            F.col("blk_seq"),
            F.col("n"),
            F.lit(0).cast("long").alias("min_docid"),
            F.lit(0).cast("long").alias("max_docid"),
            F.lit(0.0).alias("max_norm"),
            F.col("payload").alias("docids"),
            F.lit(None).cast("binary").alias("tfs"),
            F.lit(None).cast("binary").alias("posdata"),
        )
        if not hasattr(reader, "_dmap_proj"):
            reader._dmap_proj = {}
        reader._dmap_proj[scored] = dmap
    blocks = dmap if blocks is None else blocks.unionByName(dmap)
    if exp_parts:
        # expansion side is unbounded (can match 10^8+ vocabulary terms on
        # a web-scale corpus) — no forced broadcast; AQE picks broadcast
        # when the realized expansion is small, shuffled hash join when not
        tagged = blocks.join(terms_df, ["term_id"])
    else:
        tagged = blocks.join(F.broadcast(terms_df), ["term_id"])
    # drop position streams for non-phrase terms BEFORE the eval shuffle
    # (the projection runs map-side, between the join and the exchange)
    tagged = tagged.withColumn(
        "posdata",
        F.when(F.col("needs_pos"), F.col("posdata")).otherwise(
            F.lit(None).cast("binary")
        ),
    ).drop("needs_pos")
    # shuffle only what the evaluator reads.  Catalyst prunes the dropped
    # columns all the way down to the parquet scan.
    eval_cols = _eval_cols(scored)
    if exp_parts:
        eval_cols.append("vkeys")
    tagged = tagged.select(*eval_cols)

    field_names = [f.name for f in config.fields]
    # per-compile broadcasts cached on the reader: re-broadcasting the
    # shared df/tid maps on every single-query call costs pickling + an
    # RPC each (~20+ ms/query warm); keys mirror the compile cache
    if not hasattr(reader, "_bcast_cache"):
        from collections import OrderedDict

        reader._bcast_cache = OrderedDict()
    cached_b = reader._bcast_cache.get(bkey)
    if cached_b is None:
        cached_b = (
            spark.sparkContext.broadcast(field_names),
            spark.sparkContext.broadcast(compiled),
            spark.sparkContext.broadcast(call.df_map),
            spark.sparkContext.broadcast(tid_map),
            spark.sparkContext.broadcast(call.chunk_cids),
        )
        reader._bcast_cache[bkey] = cached_b
        while len(reader._bcast_cache) > 256:
            _, old = reader._bcast_cache.popitem(last=False)
            for b_ in old:
                b_.unpersist()
    else:
        reader._bcast_cache.move_to_end(bkey)
    field_names_b, compiled_b, df_map_b, tid_map_b, chunk_cids_b = cached_b

    # the block-max threshold is read HERE, on the driver, and travels in
    # the closure: eval_group is module-level and pickles by reference,
    # so a worker would otherwise read its own import of the module
    scalars = _plan_scalars(reader, config, scored, top_k)

    def eval_spark(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return eval_group(key, pdf, EvalPlan(
            field_names=field_names_b.value,
            compiled=compiled_b.value,
            df_map=df_map_b.value,
            tid_map=tid_map_b.value,
            chunk_cids=chunk_cids_b.value,
            **scalars,
        ))

    results = tagged.groupBy("chunk", "band").applyInPandas(eval_spark, RESULT_SCHEMA)

    if top_k is not None:
        if len(compiled) == 1:
            # single category: TakeOrderedAndProject (per-partition top-k +
            # driver-side merge) replaces the window's full shuffle + sort —
            # one whole stage off the latency floor of the API search path
            results = results.orderBy(
                F.desc("score"), F.asc("doc_id")
            ).limit(top_k)
        else:
            from pyspark.sql import Window

            w = Window.partitionBy("category_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            results = (
                results.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= top_k)
                .drop("rank")
            )
    return results
