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
arrays, never a per-doc Python query walk.  The category queries are parsed
once per (categories, config), like the reference's cached query trees
(:30,337-363), and each batch compiles them against its OWN vocabulary:
wildcard/range/fuzzy constructs expand over the batch's terms (so terms
the index never saw still match), and numeric/id clauses evaluate as
vectorized masks over the batch's metadata columns.  Nothing in a batch's
compile reads the index.  Results are merged into the results table.
"""

from __future__ import annotations

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
    """Broadcast of (parsed query trees by category id, config), parsed
    ONCE and reused by every micro-batch (a fresh broadcast per batch
    accumulates driver/executor state over a long-running stream).

    Parsing only: a batch compiles the trees against its own vocabulary
    and evaluates unscored, so the payload holds no index state and
    building it starts no Spark job.  Cached under a (category pairs,
    config) KEY: ``engine.refresh()`` after an index append keeps it, and
    only a category or config edit re-parses (0.17-0.21 s for the 136
    fixture categories on a 4-vCPU host)."""
    pairs = engine._category_pairs()
    key = (tuple(pairs), engine.config)
    if engine._stream_payload is None or engine._stream_payload_key != key:
        if engine._stream_payload is not None:
            engine._stream_payload.unpersist()
        parsed = {cid: qp.parse_query(q, engine.config) for cid, q in pairs}
        engine._stream_payload = engine.spark.sparkContext.broadcast(
            (parsed, engine.config)
        )
        engine._stream_payload_key = key
    return engine._stream_payload


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

        parsed, config = payload.value
        specs = [
            (f.name, f.analyzer, list(f.source_columns)) for f in config.fields
        ]
        src_cols = sorted({c for f in config.fields for c in f.source_columns})
        fnames = [f.name for f in config.fields]
        tok = ChunkTokenizer(specs)
        _, constructs, fuzzies = qp.dictionary_needs(parsed.values())
        needs_pos = any(search_ops.has_phrase(nd) for nd in parsed.values())
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

            # -- compile against the BATCH vocabulary (bool membership: a
            #    term absent from the batch cannot match any batch doc) ---
            expanded, fuzzy_map = search_ops.expand_over_vocab(
                lambda field: vocab_by_field.get(field, []), constructs, fuzzies
            )
            nodes = {
                cid: search_ops.expand_tree(node, expanded, fuzzy_map)
                for cid, node in parsed.items()
            }

            # -- seed _TermData for every term the queries can touch -------
            terms_cache: dict[int, search_ops._TermData] = {}
            tid_map: dict[tuple[str, str], int] = {}
            virtual: dict[str, qp.Node] = {}
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
                virtual.update(search_ops.virtual_clauses(node))
            for key, src in virtual.items():
                tidv = term_id_of(search_ops.VIRTUAL_FIELD, key)
                tid_map[(search_ops.VIRTUAL_FIELD, key)] = tidv
                ids = search_ops._virtual_ids(src, pdf, n)
                terms_cache[tidv] = search_ops._TermData(
                    ids, np.ones(len(ids), dtype=np.int64), None, None
                )

            # unscored: df, N and avgdl are never read
            ev = search_ops._Evaluator(
                {}, {}, 0.0, config.k1, config.b, {},
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
