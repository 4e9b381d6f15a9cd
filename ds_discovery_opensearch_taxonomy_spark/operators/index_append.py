"""Incremental index maintenance: append streamed docs to the LIVE index.

Reference contract: a daily-update doc is (re)searchable in OpenSearch the
moment its bulk upsert lands (OpenSearchIAViewUpdateRepository.cs:32-70
updates the live index).  The Spark re-plan (SURVEY.md §3.2: "append partial
postings + periodic compaction"):

* every append batch gets a fresh, BAND-ALIGNED dense ordinal range above
  the existing ord space (band = ord >> ord_shift stays an index constant,
  so blocks still never cross band boundaries and per-band docmaps stay
  dense-from-band-start);
* a batch of at most ``DRIVER_APPEND_MAX_ROWS`` rows is collected once
  and its whole delta is built in the driver and written with pyarrow;
  only the tombstone lookup, which scans the index, runs as a Spark job.
  Larger batches run the same steps as Spark jobs.  Both paths call the
  same tokenize, merge and docmap kernels and write identical rows (see
  ``_append_in_driver``);
* the batch is tokenized with the SAME packed-run kernel as the main build
  and merged into posting blocks whose ``salt`` is a per-batch constant
  ABOVE every main salt — `_decode_rows`' (salt, blk_seq) concatenation
  order therefore remains globally ord-sorted across generations (the
  Lucene "new segment" analogue: no rewrite of existing postings);
* per-batch delta dictionary rows carry the batch's df/cf — the reader's
  dictionary view folds them into global df, which is safe because blocks
  are df-FREE by design (idf folds in at query time; BENCH.md r2: "so index
  blocks stay valid under incremental df drift");
* re-ingested doc_ids TOMBSTONE their previous ordinal: dead ords ship as
  ``ford == -2`` docmap sidecar rows and the evaluator drops them from
  every decoded posting list BEFORE scoring/top-k (OpenSearch doc-as-upsert
  semantics; deleted docs still count in df until compaction, exactly like
  Lucene deletes before a merge);
* blocks are encoded with the BUILD-TIME avgdl pinned in the manifest
  (``encode_avgdl``); the evaluator multiplies block-max bounds by
  max(1, live_avgdl/encode_avgdl) so dynamic pruning stays exact while the
  live stats drift;
* ``compact_index`` folds all delta files into generation-versioned main
  tables committed by ONE atomic manifest write (crash before the commit
  leaves the old main+delta view live) — the Iceberg rewrite-data-files
  analogue.  Block payloads are concatenation-valid as-is, so compaction
  moves files, not postings; it also renumbers the interval's delta salts
  densely into [COMPACTED_SALT_BASE, DELTA_SALT_BASE) and resets the
  batch-seq counter in the same commit, keeping the int32 salt space
  bounded for the index's lifetime.  A full purge of tombstoned postings
  is a rebuild (like a Lucene forceMerge expunging deletes).

At-least-once streams replay safely: ``batch_key`` is recorded in the
manifest and a committed key is a no-op.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
    BLOCKS_SCHEMA,
    DOCMAP_SCHEMA,
    TOMBSTONE_FORD,
    _MERGE_TARGET_BYTES,
    _arrow_blocks_schema,
    _salt_packed_runs,
    _tokens_arrow_schema,
    attach_ords,
    docmap_rows,
    expected_counts,
    make_merge_builder,
    pack_docmap_group,
    partition_offsets,
    salt_runs,
    tokenize_corpus,
    tokenize_split,
    tokenizer_specs,
    write_doc_stats,
)
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import with_doc_ids

#: delta block salts live above every main salt (config.max_salts <= 2^16)
#: so (salt, blk_seq) ordering puts delta generations after the main index
#: and in append order — which IS ascending ord order, keeping the
#: k-way-merge-free concatenation decode exact.
DELTA_SALT_BASE = 1 << 20
_SALT_STRIDE = 1 << 16
#: compaction renumbers every delta-era salt it folds into the main table
#: DENSELY (order-preserving) into [COMPACTED_SALT_BASE, DELTA_SALT_BASE) —
#: above every build salt (config.max_salts <= 2^16), below every live
#: delta — and resets the batch-seq counter in the same atomic manifest
#: write.  Generations never interleave ords (each batch takes a fresh
#: band-aligned ord range), so any order-preserving salt renumber keeps the
#: (salt, blk_seq) concatenation decode exact.
COMPACTED_SALT_BASE = 1 << 16
#: the salt column is int32; batch seqs are monotone within one COMPACTION
#: INTERVAL (compaction remaps the accumulated salts and resets the seq
#: counter) — past this seq the salt would wrap negative and silently
#: corrupt the global decode order, so append_batch refuses LOUDLY instead.
#: With auto-compaction (config.compact_after_batches) the ceiling binds
#: only on appends BETWEEN two compactions (~32k), and the lifetime bound
#: becomes ~983k compacted generations (the [2^16, 2^20) dense space).
MAX_DELTA_SEQ = ((1 << 31) - 1 - DELTA_SALT_BASE) // _SALT_STRIDE


def delta_salt(seq: int) -> int:
    if seq > MAX_DELTA_SEQ:
        raise RuntimeError(
            f"delta batch seq {seq} exceeds the int32 salt headroom "
            f"(max {MAX_DELTA_SEQ}); the index has exhausted its append "
            "generations — rebuild it (build_index on the live corpus) to "
            "reset the salt space"
        )
    return DELTA_SALT_BASE + seq * _SALT_STRIDE


#: every table an append writes under its ``batch=<seq>`` dir
_DELTA_TABLES = (
    IndexCatalog.DELTA_BLOCKS,
    IndexCatalog.DELTA_DOCS,
    IndexCatalog.DELTA_DICTIONARY,
    IndexCatalog.DELTA_DOCMAP,
    IndexCatalog.DELTA_STAGING,
)


def _delta_dir(cat: IndexCatalog, table: str, seq: int) -> str:
    return f"{cat.path(table)}/batch={seq}"


def read_delta(spark: SparkSession, cat: IndexCatalog, table: str) -> DataFrame | None:
    """All COMMITTED batches of one delta table as a single partitioned
    read (one scan regardless of batch count; uncommitted/orphan batch
    dirs are pruned out by the partition filter)."""
    seqs = cat.delta_seqs()
    if not seqs:
        return None
    root = cat.path(table)
    df = spark.read.option("basePath", root).parquet(root)
    return df.where(F.col("batch").isin(seqs)).drop("batch")


def dead_ords_df(spark: SparkSession, cat: IndexCatalog) -> DataFrame | None:
    """Tombstoned ordinals as a 1-column DataFrame (unpacked from the
    ford == -2 delta docmap rows).  Bounded by the number of UPDATED docs,
    not the corpus."""
    dm = read_delta(spark, cat, IndexCatalog.DELTA_DOCMAP)
    if dm is None:
        return None
    dm = dm.where(F.col("ford") == TOMBSTONE_FORD)

    def unpack(pdfs):
        for pdf in pdfs:
            for payload in pdf["payload"]:
                yield pd.DataFrame(
                    {"ord": np.frombuffer(payload, dtype="<i8")}
                )

    return dm.select("payload").mapInPandas(unpack, "ord long")


#: a batch of at most this many rows builds its whole delta in the driver
#: (the build's tokenize, merge and docmap kernels, written with pyarrow);
#: only its tombstone lookup, which scans the index, runs as a Spark job.
#: Larger batches run the Spark plan, which tokenizes on every core.
#: Measured on a 4-vCPU host, appending docs of 50-450 words to a 450-doc
#: index, warm, two runs a side (driver vs Spark): 500 docs 1.7-1.8 s vs
#: 4.9-6.1 s; 2,000 docs 5.2-5.8 s vs 7.5-8.0 s; 8,000 docs 15.8-18.3 s
#: vs 14.6-14.7 s.  The paths break even near 5k docs; the limit stays
#: below that.
DRIVER_APPEND_MAX_ROWS = 3000

#: docs-table columns an append keeps from the batch (those present)
_META_COLS = ["doc_id", "repo", "path", "commit", "lang", "content_sha"]


def pack_tombstones(band: int, ords: np.ndarray, seq: int) -> tuple:
    """One band's superseded ords -> its ``ford == -2`` DOCMAP row; blk_seq
    = batch seq keeps rows from successive appends distinct."""
    arr = np.sort(ords.astype(np.int64)).astype("<i8")
    return (band, TOMBSTONE_FORD, seq, len(arr), arr.tobytes())


def _pack_tombstones(
    dead: DataFrame, ord_shift: int, seq: int
) -> DataFrame:
    """(ord) rows -> per-band ford == -2 DOCMAP rows."""
    d = dead.withColumn(
        "band", F.shiftright("ord", ord_shift).cast("int")
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [pack_tombstones(int(key[0]), pdf["ord"].to_numpy(np.int64), seq)],
            columns=["band", "ford", "blk_seq", "n", "payload"],
        )

    return d.groupBy("band").applyInPandas(pack, DOCMAP_SCHEMA)


_COLLISION_MSG = (
    "term_id collision detected in append batch — rebuild with "
    "a 128-bit term id (see term_id_of)"
)


def append_batch(
    spark: SparkSession,
    cat: IndexCatalog,
    config: EngineConfig,
    batch_df: DataFrame,
    batch_key: str,
) -> dict | None:
    """Append one batch of corpus rows to the live index (idempotent by
    ``batch_key``).  Returns the committed metrics, or None for a replayed
    or empty batch."""
    cat.require_format()
    if cat.batch_key_seen(batch_key):
        # at-least-once replay: already committed as a live delta, or
        # already folded into main by a compaction (keys survive
        # clear_deltas in meta.compacted_batch_keys)
        return None
    field_names = [f.name for f in config.fields]
    manifest = cat.manifest()
    band_bits = int(manifest["meta"]["band_bits"])
    ord_bits = int(manifest["meta"]["ord_bits"])
    ord_shift = max(ord_bits - band_bits, 0)
    band_size = 1 << ord_shift
    base_n = int(manifest["stages"]["ords"]["metrics"]["n_docs"])
    # next_ord is committed ATOMICALLY with the delta (commit_delta folds it
    # into the same manifest write), and is additionally re-derivable from
    # the committed deltas themselves (max base_ord + n_docs) — so a stale
    # next_ord (batch committed, cursor behind it) self-repairs here
    # instead of silently reusing committed ordinals.
    next_ord = max(
        int(cat.get_meta("next_ord", base_n)),
        base_n,
        max(
            (
                int(d["base_ord"]) + int(d["n_docs"])
                for d in cat.deltas().values()
            ),
            default=0,
        ),
    )
    base = -(-next_ord // band_size) * band_size  # band-aligned
    seq = cat.next_delta_seq()
    delta_salt(seq)  # fail fast on int32 salt exhaustion (MAX_DELTA_SEQ)
    # blocks are encoded with the build-time avgdl (module docstring)
    enc_avgdl = manifest["meta"]["encode_avgdl"]
    avgdl_ord = np.array(
        [float(enc_avgdl.get(fn, 1.0)) for fn in field_names],
        dtype=np.float64,
    )

    corpus = (
        with_doc_ids(batch_df) if "doc_id" not in batch_df.columns else batch_df
    )
    # one job decides the path: a batch that fits is already in the driver
    rows = corpus.limit(DRIVER_APPEND_MAX_ROWS + 1).toArrow()
    if rows.num_rows <= DRIVER_APPEND_MAX_ROWS:
        if rows.num_rows == 0:
            return None
        n_new, path = rows.num_rows, "driver"
        sum_dl = _append_in_driver(
            spark, cat, config, rows, base, seq, ord_bits, ord_shift, avgdl_ord
        )
    else:
        path = "spark"
        out = _append_with_spark(
            spark, cat, config, corpus, base, seq, ord_bits, ord_shift,
            avgdl_ord,
        )
        if out is None:
            return None
        n_new, sum_dl = out

    # -- refresh live stats + commit ------------------------------------------
    totals = _stats_totals(cat, field_names)
    totals["n_docs"] += n_new
    for fn in field_names:
        totals["sum_dl"][fn] = totals["sum_dl"].get(fn, 0) + sum_dl[fn]
    write_doc_stats(cat, field_names, totals["sum_dl"], totals["n_docs"])
    metrics = {
        "seq": seq,
        "n_docs": n_new,
        "base_ord": base,
        "sum_dl": sum_dl,
        "bytes": cat.table_bytes(f"{IndexCatalog.DELTA_BLOCKS}/batch={seq}"),
        "path": path,
    }
    # ONE manifest write commits the batch AND advances next_ord — a
    # crash can never leave a committed batch with a stale ord cursor
    cat.commit_delta(batch_key, metrics)
    return metrics


def _append_in_driver(
    spark: SparkSession,
    cat: IndexCatalog,
    config: EngineConfig,
    rows,
    base: int,
    seq: int,
    ord_bits: int,
    ord_shift: int,
    avgdl_ord: np.ndarray,
) -> dict:
    """Build and write the delta tables of one small batch, ``rows`` (an
    Arrow table), in the driver; the tombstone lookup is the only Spark
    job.  Writes the same rows as :func:`_append_with_spark`: the batch is
    one input split, so every (field, term) has one posting run.  Returns
    the batch's per-field sum_dl."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        ChunkTokenizer,
    )

    field_names = [f.name for f in config.fields]
    nb = config.n_term_buckets
    n_new = rows.num_rows
    end = base + n_new
    ords = np.arange(base, end, dtype=np.int64)
    meta_cols = _META_COLS + list(config.int_fields)
    docs = rows.select(
        [c for c in meta_cols if c in rows.column_names]
    ).append_column("ord", pa.array(ords, pa.int64()))
    doc_ids = rows.column("doc_id").to_numpy()
    dead = _superseded_ords(spark, cat, doc_ids)

    tok = ChunkTokenizer(tokenizer_specs(config))
    packed = pa.Table.from_batches(
        list(tokenize_split(tok, rows.to_batches(), base)),
        schema=_tokens_arrow_schema(),
    )
    runs = packed.filter(pc.equal(packed["kind"], 0))
    run_tid = runs["term_id"].to_numpy()
    run_ford = runs["ford"].to_numpy()
    # two batch terms with one term_id: within a field the tokenizer's
    # maps disagree; across fields two runs share the id
    if any(c.has_collision() for c in tok.caches) or len(
        np.unique(run_tid)
    ) != len(run_tid):
        raise RuntimeError(_COLLISION_MSG)
    cf = runs["cf"].to_numpy()
    sum_dl = {
        fn: int(cf[run_ford == i].sum()) for i, fn in enumerate(field_names)
    }

    # one run per term_id, so the batch df/cf are the run's n/cf
    dictionary = pa.table(
        {
            "bucket": pa.array(np.mod(run_tid, nb), pa.int64()),
            "term_id": runs["term_id"],
            "df": pa.array(runs["n"].to_numpy().astype(np.int64), pa.int64()),
            "cf": runs["cf"],
            "term": runs["term"],
            "ford": runs["ford"],
            "field": pa.array(
                [field_names[f] for f in run_ford.tolist()], pa.string()
            ),
        }
    )

    builder = make_merge_builder(
        float(end), avgdl_ord, config.k1, config.b, config.block_size,
        ord_shift,
    )
    none = np.empty(0, dtype=np.int64)
    blocks = pa.Table.from_batches(
        list(builder(salt_runs(runs.to_batches(), none, none, ord_bits))),
        schema=_arrow_blocks_schema(),
    )
    blocks = blocks.set_column(
        blocks.schema.get_field_index("salt"),
        "salt",
        pa.array(np.full(blocks.num_rows, delta_salt(seq), np.int32)),
    ).append_column(
        "bucket", pa.array(np.mod(blocks["term_id"].to_numpy(), nb), pa.int64())
    )

    # docmap: ord -> doc_id, per-field dl sidecars, tombstones
    groups = [(-1, ords, doc_ids.astype(np.int64))]
    sent = packed.filter(pc.equal(packed["kind"], 1))
    for ford, ob, db in zip(
        sent["ford"].to_pylist(),
        sent["ord_bytes"].to_pylist(),
        sent["dl_bytes"].to_pylist(),
    ):
        groups.append(
            (
                ford,
                np.frombuffer(ob, dtype="<i8"),
                np.frombuffer(db, dtype="<i4").astype(np.int64),
            )
        )
    dm_rows = []
    for ford, o, v in groups:
        bands = o >> ord_shift
        for band in np.unique(bands).tolist():
            m = bands == band
            dm_rows += pack_docmap_group(band, ford, o[m], v[m], end, ord_shift)
    dead_bands = dead >> ord_shift
    for band in np.unique(dead_bands).tolist():
        dm_rows.append(pack_tombstones(band, dead[dead_bands == band], seq))
    band_c, ford_c, seq_c, n_c, payload_c = zip(*dm_rows)  # ids: >= 1 row
    docmap = pa.table(
        {
            "band": pa.array(band_c, pa.int32()),
            "ford": pa.array(ford_c, pa.int32()),
            "blk_seq": pa.array(seq_c, pa.int32()),
            "n": pa.array(n_c, pa.int32()),
            "payload": pa.array(payload_c, pa.binary()),
        }
    )

    # a crashed earlier attempt at this seq may have left part files here
    # (the Spark writes overwrite their dirs; this path must clear them)
    for table in _DELTA_TABLES:
        shutil.rmtree(_delta_dir(cat, table, seq), ignore_errors=True)
    for table, tbl in (
        (IndexCatalog.DELTA_DOCS, docs),
        (IndexCatalog.DELTA_DICTIONARY, dictionary),
        (IndexCatalog.DELTA_BLOCKS, blocks),
        (IndexCatalog.DELTA_DOCMAP, docmap),
    ):
        out = Path(_delta_dir(cat, table, seq))
        out.mkdir(parents=True)
        pq.write_table(tbl, out / "part-00000.parquet", compression="snappy")
    return sum_dl


def _superseded_ords(
    spark: SparkSession, cat: IndexCatalog, doc_ids: np.ndarray
) -> np.ndarray:
    """Ords of LIVE docs sharing a doc_id with the batch, as docs_view's
    semi join finds them, in ONE Spark job (the step scans the index): the
    job returns the doc_id matches over the main and committed delta docs
    plus the committed tombstones, which the driver subtracts.  Explicit
    read schemas spare the footer-inference job of each read."""
    seqs = cat.delta_seqs()
    docs = spark.read.schema("doc_id long, ord long").parquet(
        cat.path(IndexCatalog.DOCS),
        *[_delta_dir(cat, IndexCatalog.DELTA_DOCS, s) for s in seqs],
    )
    found = docs.where(F.col("doc_id").isin([int(d) for d in doc_ids])).select(
        "ord", F.lit(None).cast("binary").alias("payload")
    )
    if seqs:
        tombs = spark.read.schema(DOCMAP_SCHEMA).parquet(
            *[_delta_dir(cat, IndexCatalog.DELTA_DOCMAP, s) for s in seqs]
        )
        found = found.unionByName(
            tombs.where(F.col("ford") == TOMBSTONE_FORD).select(
                F.lit(None).cast("long").alias("ord"), "payload"
            )
        )
    got = found.toArrow()
    ords = got.column("ord").drop_null().to_numpy()
    dead = [
        np.frombuffer(p, dtype="<i8")
        for p in got.column("payload").drop_null().to_pylist()
    ]
    return np.setdiff1d(ords, np.concatenate(dead)) if dead else ords


def _append_with_spark(
    spark: SparkSession,
    cat: IndexCatalog,
    config: EngineConfig,
    corpus: DataFrame,
    base: int,
    seq: int,
    ord_bits: int,
    ord_shift: int,
    avgdl_ord: np.ndarray,
) -> tuple[int, dict] | None:
    """Build and write one batch's delta tables with Spark jobs.  Returns
    (n_docs, per-field sum_dl), or None for an empty batch."""
    field_names = [f.name for f in config.fields]
    # three passes read the batch (offsets, docs, tokenize) — pin its
    # partitioning so the dense-ord contract can't drift between them
    corpus = corpus.persist()
    try:
        rel_offsets, n_new = partition_offsets(corpus)
        if n_new == 0:
            return None
        offsets = [base + o for o in rel_offsets]
        expected = expected_counts(offsets, base + n_new)

        # -- docs + tombstones ------------------------------------------------
        meta_cols = _META_COLS + list(config.int_fields)
        docs_delta = attach_ords(
            corpus.select(*[c for c in meta_cols if c in corpus.columns]),
            offsets,
            expected=expected,
        )
        docs_delta.write.mode("overwrite").parquet(
            _delta_dir(cat, IndexCatalog.DELTA_DOCS, seq)
        )
        # superseded ords: LIVE docs sharing a doc_id with this batch (the
        # batch side is small -> broadcast semi join against the docs scan)
        live = docs_view(spark, cat)
        dead = live.join(
            F.broadcast(corpus.select("doc_id").distinct()), "doc_id", "semi"
        ).select("ord")
        tomb = _pack_tombstones(dead, ord_shift, seq)

        # -- packed staging runs (one tokenize pass, reused 3x) ---------------
        from pyspark.sql import Observation

        tokens = tokenize_corpus(corpus, config, offsets, expected=expected)
        staged = tokens.withColumn(
            "bucket", F.pmod(F.col("term_id"), F.lit(config.n_term_buckets))
        )
        stg_obs = Observation(f"delta_staging_{seq}")
        staged = staged.observe(
            stg_obs,
            *[
                F.sum(
                    F.when(
                        (F.col("ford") == i) & (F.col("kind") == 0), F.col("cf")
                    ).otherwise(F.lit(0))
                ).alias(fn)
                for i, fn in enumerate(field_names)
            ],
        )
        staged.write.mode("overwrite").parquet(
            _delta_dir(cat, IndexCatalog.DELTA_STAGING, seq)
        )
        sum_dl = {fn: int(stg_obs.get[fn] or 0) for fn in field_names}
        staged = spark.read.parquet(
            _delta_dir(cat, IndexCatalog.DELTA_STAGING, seq)
        )
        runs = staged.where(F.col("kind") == 0)

        # -- delta dictionary (batch df/cf; collision check rides the agg) ----
        dictionary = (
            runs.groupBy("bucket", "term_id")
            .agg(
                F.sum("n").alias("df"),
                F.sum("cf").alias("cf"),
                F.max("term").alias("term"),
                F.min("term").alias("term_lo"),
                F.max("ford").alias("ford"),
            )
            .withColumn(
                "field",
                F.element_at(
                    F.array(*[F.lit(fn) for fn in field_names]),
                    F.col("ford") + 1,
                ),
            )
        )
        coll_obs = Observation(f"delta_dict_{seq}")
        dictionary = dictionary.observe(
            coll_obs,
            F.sum(
                F.when(F.col("term_lo") != F.col("term"), 1).otherwise(0)
            ).alias("n"),
        )
        dictionary.drop("term_lo").write.mode("overwrite").parquet(
            _delta_dir(cat, IndexCatalog.DELTA_DICTIONARY, seq)
        )
        if int(coll_obs.get["n"] or 0):
            raise RuntimeError(_COLLISION_MSG)

        # -- delta posting blocks --------------------------------------------
        # salt: per-batch constant above all main salts (see DELTA_SALT_BASE).
        # No heavy-term salting: a batch's per-term df is bounded by the
        # batch itself, and delta ords share their top bits so ord-top-bit
        # salts cannot split them — accumulated skew is compaction's job.
        builder = make_merge_builder(
            float(base + n_new), avgdl_ord, config.k1, config.b,
            config.block_size, ord_shift,
        )
        batch_bytes = cat.table_bytes(
            f"{IndexCatalog.DELTA_STAGING}/batch={seq}"
        )
        n_parts = max(
            spark.sparkContext.defaultParallelism,
            -(-batch_bytes // _MERGE_TARGET_BYTES),
        )
        salted = _salt_packed_runs(runs, {}, ord_bits)
        blocks = (
            salted.repartition(n_parts, "term_id")
            .mapInArrow(builder, BLOCKS_SCHEMA)
            .withColumn("salt", F.lit(delta_salt(seq)).cast("int"))
            .withColumn(
                "bucket",
                F.pmod(F.col("term_id"), F.lit(config.n_term_buckets)),
            )
        )
        blocks.write.mode("overwrite").parquet(
            _delta_dir(cat, IndexCatalog.DELTA_BLOCKS, seq)
        )

        # -- delta docmap (ord -> doc_id + dl sidecars + tombstones) ----------
        sent = staged.where(F.col("kind") == 1).select(
            "ford", "ord_bytes", "dl_bytes"
        )
        dm = docmap_rows(
            spark.read.parquet(
                _delta_dir(cat, IndexCatalog.DELTA_DOCS, seq)
            ).select("ord", "doc_id"),
            sent,
            ord_shift,
            base + n_new,
        ).unionByName(tomb)
        dm.write.mode("overwrite").parquet(
            _delta_dir(cat, IndexCatalog.DELTA_DOCMAP, seq)
        )

        return n_new, sum_dl
    finally:
        corpus.unpersist()


def _stats_totals(cat: IndexCatalog, field_names: list[str]) -> dict:
    """Live (n_docs, per-field sum_dl) derived from the manifest: the
    stats base (build totals, or ``meta.stats_base`` after a compaction
    folded earlier deltas in) + committed deltas.  Derivable, so a crash
    between the doc_stats write and the delta commit self-repairs on the
    next append."""
    m = cat.manifest()
    base = m["meta"].get("stats_base")
    if base is not None:
        n = int(base["n_docs"])
        sum_dl = dict(base["sum_dl"])
    else:
        n = int(m["stages"]["ords"]["metrics"]["n_docs"])
        sum_dl = dict(m["stages"]["staging"]["metrics"]["sum_dl"])
    for d in m.get("deltas", {}).values():
        n += int(d["n_docs"])
        for fn, v in d["sum_dl"].items():
            sum_dl[fn] = sum_dl.get(fn, 0) + int(v)
    return {"n_docs": n, "sum_dl": {fn: int(sum_dl.get(fn, 0)) for fn in field_names}}


# --------------------------------------------------------------------------
# Live views (main ∪ committed deltas) — used by IndexReader
# --------------------------------------------------------------------------


def docs_view(spark: SparkSession, cat: IndexCatalog) -> DataFrame:
    """Live docs: main ∪ delta docs, minus tombstoned ords (the dead set is
    bounded by updated-doc count -> broadcast anti join)."""
    docs = spark.read.parquet(cat.path(IndexCatalog.DOCS))
    delta = read_delta(spark, cat, IndexCatalog.DELTA_DOCS)
    if delta is not None:
        docs = docs.unionByName(delta, allowMissingColumns=True)
        dead = dead_ords_df(spark, cat)
        if dead is not None:
            docs = docs.join(F.broadcast(dead), "ord", "left_anti")
    return docs


def postings_view(spark: SparkSession, cat: IndexCatalog) -> DataFrame:
    blocks = cat.read(spark, IndexCatalog.POSTINGS)
    delta = read_delta(spark, cat, IndexCatalog.DELTA_BLOCKS)
    if delta is not None:
        blocks = blocks.unionByName(delta.select(*blocks.columns))
    return blocks


def docmap_view(spark: SparkSession, cat: IndexCatalog) -> DataFrame:
    dm = spark.read.parquet(cat.path(IndexCatalog.DOCMAP))
    delta = read_delta(spark, cat, IndexCatalog.DELTA_DOCMAP)
    if delta is not None:
        dm = dm.unionByName(delta)
    return dm


def dictionary_view(
    spark: SparkSession, cat: IndexCatalog, config: EngineConfig
) -> DataFrame:
    """Global dictionary: df/cf summed across the main build and every
    committed append (blocks are df-free, so folding df here is the ONLY
    thing that keeps idf globally correct under appends).  Tombstoned docs
    still count in df until compaction/rebuild — the Lucene
    deletes-before-merge behaviour."""
    main = cat.read(spark, IndexCatalog.DICTIONARY)
    delta = read_delta(spark, cat, IndexCatalog.DELTA_DICTIONARY)
    if delta is None:
        return main
    u = main.unionByName(delta.select(*main.columns))
    return (
        u.groupBy("term_id")
        .agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("term").alias("term"),
            F.max("ford").alias("ford"),
            F.max("field").alias("field"),
        )
        .withColumn(
            "bucket", F.pmod(F.col("term_id"), F.lit(config.n_term_buckets))
        )
    )


# --------------------------------------------------------------------------
# Compaction
# --------------------------------------------------------------------------


def compact_index(
    spark: SparkSession, cat: IndexCatalog, config: EngineConfig
) -> dict | None:
    """Fold every committed delta into generation-versioned main tables.

    Block payloads are concatenation-valid across generations (disjoint ord
    ranges; (salt, blk_seq) ordering), so compaction REWRITES FILES, not
    postings: the unioned rows land in the normal bucket-partitioned layout
    and the delta dirs disappear.  Commit is ONE manifest write (table
    generation bump + delta-list clear) — atomic via os.replace; a crash
    before it leaves the old view live, after it the compacted one.  Old
    generation dirs are GC'd post-commit.  Tombstone docmap rows are
    carried along (purging dead postings from block payloads = rebuild)."""
    if not cat.deltas():
        return None
    gens = {
        t: int(cat.manifest().get("meta", {}).get("gen", {}).get(t, 0)) + 1
        for t in (
            IndexCatalog.POSTINGS,
            IndexCatalog.DICTIONARY,
            IndexCatalog.DOCS,
            IndexCatalog.DOCMAP,
        )
    }

    def gen_dir(table: str) -> str:
        return str(cat.root / f"{table}__g{gens[table]}")

    old_dirs = {t: cat.path(t) for t in gens}
    # the postings rewrite moves every block payload: use the same
    # task-direct pyarrow writer as the build's merge stage instead of
    # df.write.partitionBy("bucket") (JVM re-encode + planned-write sort,
    # measured 4->16 efficiency 0.29 on this exact table shape); the
    # transform feeding it renumbers this interval's delta salts densely
    # into the compacted range (module header: keeps the salt space and
    # the batch-seq counter bounded for the index's lifetime) and the
    # writer re-derives bucket = term_id % n_buckets (identical to the
    # stored column)
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        WRITER_STATS_SCHEMA,
        _arrow_blocks_schema,
        _int_keys,
        _reconcile_direct_write,
        attempts_map,
        make_direct_block_writer,
    )

    # remap domain comes from the DATA, not the manifest: every delta-era
    # salt (>= COMPACTED_SALT_BASE) actually present in the view — earlier
    # compacted generations in their dense slots PLUS this interval's live
    # deltas, whatever seqs they were appended at.  Sorted salt order
    # equals ord order for both (seqs are monotone within an interval;
    # dense slots are rank-assigned), so one dense order-preserving
    # renumber is exact.  The distinct scan is bounded by the number of
    # generations, one narrow column off a table compaction full-scans
    # anyway.
    old_salts = np.array(
        sorted(
            int(r["salt"])
            for r in postings_view(spark, cat)
            .where(F.col("salt") >= COMPACTED_SALT_BASE)
            .select("salt")
            .distinct()
            .collect()
        ),
        dtype=np.int64,
    )
    if COMPACTED_SALT_BASE + len(old_salts) > DELTA_SALT_BASE:
        raise RuntimeError(
            f"compaction would exceed the dense compacted-salt space "
            f"({len(old_salts)} delta-era generations, capacity "
            f"{DELTA_SALT_BASE - COMPACTED_SALT_BASE}) — rebuild the index "
            "(build_index on the live corpus) to reset the salt space"
        )

    def _remap_salts(batches):
        import pyarrow as pa

        for rb in batches:
            i = rb.schema.get_field_index("salt")
            salt = rb.column(i).to_numpy(zero_copy_only=False).astype(np.int64)
            m = salt >= COMPACTED_SALT_BASE
            if m.any():
                if len(old_salts) == 0:
                    raise RuntimeError(
                        "postings view contains a delta-era salt but the "
                        "remap domain scan saw none (a concurrent append?) "
                        "— refusing to compact"
                    )
                idx = np.searchsorted(old_salts, salt[m])
                ok = (idx < len(old_salts)) & (
                    old_salts[np.minimum(idx, len(old_salts) - 1)]
                    == salt[m]
                )
                if not ok.all():
                    raise RuntimeError(
                        "postings view contains a delta-era salt missing "
                        "from the remap domain — refusing to compact"
                    )
                salt[m] = COMPACTED_SALT_BASE + idx
                rb = rb.set_column(
                    i, rb.schema.field(i), pa.array(salt, pa.int32())
                )
            yield rb

    block_cols = [f.name for f in _arrow_blocks_schema()]
    post_gen_dir = gen_dir(IndexCatalog.POSTINGS)
    # a compaction that crashed before its manifest commit leaves part
    # files in this same (uncommitted) generation dir; unlike df.write's
    # overwrite mode the direct writer never truncates, and a retry with
    # different task partitioning would commit the leftovers alongside its
    # own output (duplicate postings, stale salt remap)
    shutil.rmtree(post_gen_dir, ignore_errors=True)
    writer = make_direct_block_writer(
        _remap_salts, post_gen_dir, config.n_term_buckets
    )
    w_stats = (
        postings_view(spark, cat)
        .select(*block_cols)
        .mapInArrow(writer, WRITER_STATS_SCHEMA)
        .collect()
    )
    post_atts = attempts_map(w_stats)
    _reconcile_direct_write(post_gen_dir, _int_keys(post_atts))
    dictionary_view(spark, cat, config).repartition(
        2 * config.n_term_buckets, "bucket"
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        gen_dir(IndexCatalog.DICTIONARY)
    )
    # docs keep tombstoned rows OUT (they are gone from docmap's live view
    # only logically; the ord -> doc_id arrays still cover dead ords, which
    # the evaluator never surfaces because tombstone rows persist)
    docs_view(spark, cat).write.mode("overwrite").parquet(
        gen_dir(IndexCatalog.DOCS)
    )
    docmap_view(spark, cat).write.mode("overwrite").parquet(
        gen_dir(IndexCatalog.DOCMAP)
    )
    n_batches = len(cat.deltas())
    # roll the compacted batches' doc/dl totals into the stats base in the
    # SAME atomic write that clears the delta list — live n/avgdl must not
    # forget compacted docs (idf/norms would silently shrink)
    field_names = [f.name for f in config.fields]
    cat.clear_deltas(
        gens,
        stats_base=_stats_totals(cat, field_names),
        compacted_salts=len(old_salts),
        # committed-attempt map of the NEW postings generation — must flip
        # with the generation pointer (see clear_deltas)
        postings_attempts=post_atts,
        bucket_bytes={
            b: sum(
                f.stat().st_size
                for f in Path(post_gen_dir, f"bucket={b}").rglob("*.parquet")
            )
            for b in cat.manifest()["buckets"]
        },
    )
    # GC superseded dirs (pre-commit crash leaves them live, so only now)
    for t, old in old_dirs.items():
        if old != cat.path(t):
            shutil.rmtree(old, ignore_errors=True)
    for t in _DELTA_TABLES:
        shutil.rmtree(cat.root / t, ignore_errors=True)
    return {"batches_compacted": n_batches, "generations": gens}
