"""Daily-update pipeline: Structured-Streaming micro-batch categorisation.

Spark re-plan of the reference's queue-driven daily update (SURVEY.md §3.2:
SQS messages of ``;``-separated IAIDs → per-doc categorise → bulk upsert,
CategoriseDocAmazonSqsConsumer.cs:24-91, UpdateOpenSearchService.cs:111-262).
The reference has no event-time semantics (at-least-once queue consumption),
so the streaming mode needs only ``foreachBatch`` + idempotent merge —
no watermarks.

New/changed corpus rows stream in with the corpus schema; each micro-batch
is tokenized into an IN-MEMORY per-batch index (the literal analogue of the
reference's per-batch RAMDirectory, InMemoryCategoriserRepository.cs:461-502)
and evaluated with the SAME vectorized kernel the distributed path uses
(operators/search._Evaluator) — term/phrase/bool algebra over numpy posting
arrays, never a per-doc Python query walk.  Wildcard/range/fuzzy constructs
re-expand against the BATCH vocabulary (the reference expands against the
transient per-batch index, so terms the global dictionary never saw still
match), and numeric/id clauses evaluate as vectorized masks over the
batch's metadata columns.  Results are merged into the results table.
"""

from __future__ import annotations

import bisect
import re
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators import search as search_ops
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import with_doc_ids

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("category_ids", T.ArrayType(T.StringType()), False),
    ]
)

#: reference IAID format (TaxonomyCLI/Categoriser.cs:28): C/D + 2-8 digits,
#: or a 32-char hex-ish identifier
IAID_PATTERN = r"^(C\d{2,8}|D\d{2,8}|\w{32})$"


def parse_iaid_messages(messages: DataFrame, column: str = "body") -> DataFrame:
    """Queue messages → one validated IAID per row.

    Mirrors the reference's SQS consumption contract: each message body is a
    ``;``-separated IAID list (Batch/Utils/MessageQueueExtensions.cs; README
    "semicolon-separated"), and malformed IAIDs are rejected before
    categorisation (TaxonomyCLI/Categoriser.cs:28 regex).  All JVM-side:
    ``split`` + ``explode`` + ``rlike`` — usable on static and streaming
    DataFrames alike.  Returns a single-column ``iaid`` DataFrame."""
    return (
        messages.select(
            F.explode(F.split(F.col(column), ";")).alias("iaid")
        )
        .select(F.trim("iaid").alias("iaid"))
        .where(F.col("iaid").rlike(IAID_PATTERN))
    )


def _batch_payload(engine: TaxonomyEngine):
    """Broadcast of (compiled queries, stats, config) — compiled ONCE and
    reused by every micro-batch (a fresh broadcast per batch accumulates
    driver/executor state over a long-running stream).

    Cached under a (category pairs, config) KEY, not index state: the batch
    evaluator runs unscored (df/N/avgdl unread in bool mode) and re-expands
    wildcard/range/fuzzy constructs against the batch vocabulary from their
    kept ``source`` nodes, so index appends/compaction between batches
    cannot change a batch's result — only category/config edits can.
    ``engine.refresh()`` therefore keeps the payload alive; recompiling per
    batch cost ~7-8 s at 136 categories (the dictionary lookup + distributed
    expansion jobs), dominating small daily batches (measured: a warm 10k-doc
    batch categorises in ~1.1 s)."""
    pairs = engine._category_pairs()
    key = (tuple(pairs), engine.config)
    if getattr(engine, "_stream_payload", None) is None or (
        getattr(engine, "_stream_payload_key", None) != key
    ):
        if getattr(engine, "_stream_payload", None) is not None:
            engine._stream_payload.unpersist()
        compiled, _virtual, df_map, _buckets, _tids = search_ops.compile_queries(
            engine.reader, pairs, engine.config
        )
        engine._stream_payload = engine.spark.sparkContext.broadcast(
            (
                compiled,
                df_map,
                dict(engine.reader.avgdl),
                float(engine.reader.n_docs),
                engine.config,
                [cid for cid, _ in pairs],
            )
        )
        engine._stream_payload_key = key
    return engine._stream_payload


@lru_cache(maxsize=4096)
def _wild_rx(pattern: str):
    return re.compile(
        "^"
        + "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in pattern
        )
        + "$"
    )


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


def _collect_virtual(node: qp.Node, out: dict) -> None:
    if isinstance(node, search_ops.VirtualDocsNode):
        out[node.key] = node.source
    elif isinstance(node, qp.BoostNode):
        _collect_virtual(node.child, out)
    elif isinstance(node, qp.DisMaxNode):
        for c in node.children:
            _collect_virtual(c, out)
    elif isinstance(node, qp.BoolNode):
        for _, c in node.clauses:
            _collect_virtual(c, out)


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
    """Batch-local doc indices matching a metadata clause — the vectorized
    twin of search.virtual_condition (Int32Field semantics,
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


def categorise_batch(engine: TaxonomyEngine, batch_df: DataFrame) -> DataFrame:
    """Categorise one micro-batch of corpus rows; returns
    (doc_id, category_ids) incl. empty arrays (every input doc is emitted —
    reference seeds all batch IAIDs, InMemoryCategoriserRepository.cs:376-394).

    Per-batch in-memory index + the distributed path's vectorized
    evaluator: tokenization runs the unique-span Arrow kernel, posting
    arrays are lexsorted once per (batch, field), and each category query
    evaluates as numpy set/position algebra over the whole batch — no
    per-doc Python loop (measured ~40 docs/s doc-at-a-time vs thousands/s
    vectorized at 136 categories)."""
    payload = _batch_payload(engine)

    def run(pdfs):
        from ds_discovery_opensearch_taxonomy_spark.functions import codec
        from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
            ChunkTokenizer,
            _ragged_gather,
            term_id_of,
        )
        from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
            OracleIndex,
        )

        compiled_q, dfm, avgdl, n_docs, config, cids = payload.value
        specs = [
            (f.name, f.analyzer, list(f.source_columns)) for f in config.fields
        ]
        src_cols = sorted({c for f in config.fields for c in f.source_columns})
        fnames = [f.name for f in config.fields]
        tok = ChunkTokenizer(specs)
        expander = OracleIndex.__new__(OracleIndex)  # only expand_* used
        chunk = 2048

        for pdf in pdfs:
            n = len(pdf)
            if n == 0:
                continue
            # -- tokenize the whole batch (chunked for analyzer memory) ----
            acc: dict[int, dict] = {}
            for lo in range(0, n, chunk):
                m = min(chunk, n - lo)
                columns = {
                    c: pdf[c].iloc[lo : lo + m].tolist() for c in src_cols
                }
                for r in tok.tokenize(
                    columns, np.arange(lo, lo + m, dtype=np.int64)
                ):
                    a = acc.setdefault(
                        r["ford"],
                        {"tid": [], "doc": [], "tf": [], "pd": [], "pb": []},
                    )
                    a["tid"].append(r["term_id"])
                    a["doc"].append(r["doc_id"])
                    a["tf"].append(r["tf"])
                    a["pd"].append(r["pos_data"])
                    a["pb"].append(r["pos_bounds"])

            # -- per-field posting arrays sorted by (term, doc) ------------
            #    fields[fname] = (doc_s, tf_s, flat_s, offs_s, run_tids,
            #                     run_start, run_end)
            fields: dict[str, tuple] = {}
            vocab_by_field: dict[str, list] = {}
            for ford, a in acc.items():
                tid = np.concatenate(a["tid"])
                doc = np.concatenate(a["doc"]).astype(np.int64)
                tf = np.concatenate(a["tf"]).astype(np.int64)
                total_pos = int(tf.sum())
                deltas = codec.varbyte_decode(
                    b"".join(a["pd"]), count=total_pos
                ).astype(np.int64)
                offs = np.zeros(len(tf) + 1, dtype=np.int64)
                np.cumsum(tf, out=offs[1:])
                starts = offs[:-1]
                flat = np.cumsum(deltas)
                first = flat[starts] - deltas[starts]
                flat -= np.repeat(first, tf)  # per-posting absolute restart
                order = np.lexsort((doc, tid))
                tid_s = tid[order]
                doc_s = doc[order]
                tf_s = tf[order]
                flat_s = flat[_ragged_gather(starts[order], tf_s)]
                offs_s = np.zeros(len(tf_s) + 1, dtype=np.int64)
                np.cumsum(tf_s, out=offs_s[1:])
                gb = np.empty(len(tid_s), dtype=bool)
                gb[0] = True
                gb[1:] = tid_s[1:] != tid_s[:-1]
                rs = np.flatnonzero(gb)
                re_ = np.append(rs[1:], len(tid_s))
                fname = fnames[ford]
                fields[fname] = (doc_s, tf_s, flat_s, offs_s, tid_s[rs], rs, re_)
                cache = tok.caches[ford]
                vocab_by_field[fname] = sorted(
                    {cache.tid_term[int(t)] for t in tid_s[rs]}
                )

            # -- re-expand dictionary-dependent constructs vs BATCH vocab --
            # (bool membership: global expansions absent from the batch
            # vocabulary cannot match any batch doc, so batch-only suffices)
            expander.terms_by_field = vocab_by_field

            def rewrite(node: qp.Node) -> qp.Node:
                if isinstance(node, search_ops.ExpandedTermsNode):
                    src = node.source
                    vocab = vocab_by_field.get(node.field, [])
                    if isinstance(src, qp.WildcardNode):
                        terms = _expand_wildcard(vocab, src.pattern)
                    elif isinstance(src, qp.TermRangeNode):
                        terms = _expand_range(vocab, src)
                    else:
                        terms = node.terms or ()
                    return search_ops.ExpandedTermsNode(
                        node.field, tuple(terms), src
                    )
                if isinstance(node, search_ops.ExpandedFuzzyNode):
                    if node.source is None:
                        return node
                    tb = expander.expand_fuzzy(node.source)
                    return search_ops.ExpandedFuzzyNode(
                        node.field,
                        tuple(t for t, _ in tb),
                        tuple(b for _, b in tb),
                        node.source,
                    )
                if isinstance(node, qp.BoostNode):
                    return qp.BoostNode(rewrite(node.child), node.boost)
                if isinstance(node, qp.DisMaxNode):
                    return qp.DisMaxNode(
                        tuple(rewrite(c) for c in node.children),
                        node.tie_breaker,
                    )
                if isinstance(node, qp.BoolNode):
                    return qp.BoolNode(
                        tuple((o, rewrite(c)) for o, c in node.clauses)
                    )
                return node

            nodes = {cid: rewrite(compiled_q[cid]) for cid in cids}

            # -- seed _TermData for every term the queries can touch -------
            terms_cache: dict[int, search_ops._TermData] = {}
            tid_map: dict[tuple[str, str], int] = {}
            for node in nodes.values():
                for f, t in search_ops.needed_terms(node):
                    if (f, t) in tid_map or f == search_ops.VIRTUAL_FIELD:
                        continue
                    tidv = term_id_of(f, t)
                    tid_map[(f, t)] = tidv
                    fd = fields.get(f)
                    if fd is None:
                        continue
                    doc_s, tf_s, flat_s, offs_s, run_tids, rs, re_ = fd
                    i = int(np.searchsorted(run_tids, tidv))
                    if i >= len(run_tids) or run_tids[i] != tidv:
                        continue
                    s0, e0 = int(rs[i]), int(re_[i])
                    terms_cache[tidv] = search_ops._TermData(
                        doc_s[s0:e0],
                        tf_s[s0:e0],
                        offs_s[s0 : e0 + 1] - offs_s[s0],
                        flat_s[int(offs_s[s0]) : int(offs_s[e0])],
                    )
                virt: dict[str, qp.Node] = {}
                _collect_virtual(node, virt)
                for key, src in virt.items():
                    if (search_ops.VIRTUAL_FIELD, key) in tid_map:
                        continue
                    tidv = term_id_of(search_ops.VIRTUAL_FIELD, key)
                    tid_map[(search_ops.VIRTUAL_FIELD, key)] = tidv
                    ids = _virtual_ids(src, pdf, n)
                    terms_cache[tidv] = search_ops._TermData(
                        ids, np.ones(len(ids), dtype=np.int64), None, None
                    )

            needs_pos = any(
                search_ops._node_has_phrase(nd) for nd in nodes.values()
            )
            ev = search_ops._Evaluator(
                {}, dfm, n_docs, config.k1, config.b, avgdl,
                scored=False, needs_pos=needs_pos, tid_map=tid_map,
            )
            ev.terms = terms_cache  # pre-decoded batch postings

            out_cats: list[list] = [[] for _ in range(n)]
            for cid in sorted(nodes):
                ids, _ = ev.eval(nodes[cid])
                for i in ids.tolist():
                    out_cats[i].append(cid)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].tolist(), "category_ids": out_cats}
            )

    if "doc_id" not in batch_df.columns:
        batch_df = with_doc_ids(batch_df)
    return batch_df.mapInPandas(run, RESULT_SCHEMA)


def start_incremental(
    engine: TaxonomyEngine,
    stream_df: DataFrame,
    checkpoint_dir: str,
    update_index: bool = True,
):
    """readStream(corpus rows) → foreachBatch(categorise + merge + index
    append).

    ``stream_df`` is any streaming DataFrame with the corpus schema (files
    source, Kafka after parsing, etc.).  With ``update_index`` (default)
    each micro-batch is ALSO appended to the persistent index
    (operators/index_append.py), so streamed/updated docs become
    immediately searchable — the reference's daily update lands in the
    LIVE OpenSearch index (OpenSearchIAViewUpdateRepository.cs:32-70).
    Appends are idempotent by batch_id, so at-least-once foreachBatch
    replays after a crash cannot double-ingest."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        per_doc = categorise_batch(engine, batch_df)
        engine.save_results(per_doc)
        if update_index:
            # append_docs runs the segment-merge trigger itself
            # (auto_compact, config.compact_after_batches/_delta_ratio) so
            # query latency never walks off with unbounded delta count
            engine.append_docs(batch_df, batch_key=f"stream-{batch_id}")

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
