"""Distributed inverted-index build (the "write path").

Spark re-plan of the reference's per-batch RAMDirectory indexing
(InMemoryCategoriserRepository.cs:461-502) as a persistent global index
(SURVEY.md §3.1):

  corpus ──narrow per-partition count──▶ dense ord layout (manifest) ──▶
  docs table (ord + metadata) + per-band DOCMAP (packed ord→doc_id) ──▶
  mapInArrow tokenize+PACK (Arrow, memoized analyzers) ──▶ staging: one
  ord-sorted posting RUN per (term, split) + per-(split, field) dl
  sidecars — a per-partition local index ──▶ df/cf dictionary (one
  codegen'd agg over runs) ──▶ one-job postings: heavy-term salt split ▶
  (term_id, salt) shuffle of packed runs ▶ per-partition merge-by-
  concatenation + block encode (ord-gap varbyte + per-block max_norm)
  ──manifest commit──▶ global postings.

Scale levers (north rule):
* ONE wide shuffle total (the postings merge, keyed by (term_id, salt)),
  and it moves packed RUNS, not per-posting rows;
* posting lists key on DENSE ords, so gaps varbyte to 1-2 bytes (vs 8-9
  for hashed 64-bit ids) — the external doc_id is recovered per eval band
  from DOCMAP (Lucene segment-docID + stored-field key, distributed);
* skew: terms with df > ``salt_target_postings`` are salted by the TOP
  BITS of ord, so per-salt posting runs are contiguous, bounded, and
  globally mergeable by concatenation (no k-way merge at read time);
* blocks never cross an eval-band boundary (ord prefix), so query-time
  per-(category, band) grouping is exact;
* per-bucket manifest commits give kill/resume with lineage + metrics.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.functions import codec, scoring
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import (
    INDEX_FORMAT_VERSION,
    IndexCatalog,
)
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import with_doc_ids

#: PACKED staging (round 2): one row per (term, input split) carrying the
#: split's whole ord-sorted posting RUN as raw little-endian streams — a
#: per-partition local index in the classic build-local-then-merge design.
#: Ords are dense per-split-contiguous ordinals, so runs of one term from
#: different splits cover DISJOINT ord ranges and global posting lists are
#: recovered by ordering runs by min_ord and concatenating (no k-way
#: merge).  Packing exists because Spark's exchange and the JVM->Arrow
#: bridge pay per-CELL: shuffling one row per POSTING (7 scalar cells)
#: measured 500+ s of executor time for 73M postings at 16 cores, 3x the
#: 4-core cost — memory-bandwidth contention on row re-encode.  Packed
#: rows move the same bytes as ~|vocab per split| rows with binary blobs.
#:
#: kind 0 = posting run; kind 1 = per-doc field-length sidecar (one row
#: per (split, field): ord_bytes = split doc ords <i8, dl_bytes = per-doc
#: dl <i4 — sidecars keep the WIDE formats) consumed by the DOCMAP stage.
#:
#: Round-4 NARROW run streams (kind 0).  The postings merge is memory-
#: bandwidth-bound (BENCH.md: 0.48 efficiency 4->16 at a 0.955 ceiling —
#: ~2 GB of run payload through UnsafeRow/lz4/Arrow several times), so the
#: per-posting fixed-width payload drops from 20 B to 9 B with plain
#: vectorized casts (NOT varbyte — varbyte on these streams was a measured
#: 1.6x CPU regression, BENCH.md round-2 negative results):
#:   * ord_bytes  <u4 x n — ords RELATIVE to min_ord (a run covers one
#:     input split, so the range always fits 32 bits; asserted at pack)
#:   * tf_bytes   <u2 x n, or <u4 if the run holds any tf > 65535
#:     (wflags bit 0) — widths are per-RUN so slicing stays trivial
#:   * dl_bytes   u8 x n — log-grid code whose decode is a LOWER bound of
#:     the true dl (dl_code_of).  Staging dl feeds ONLY the per-block
#:     max_norm upper bound (exact query-time dls come from the DOCMAP
#:     sidecar); tf_norm is decreasing in dl, so a lower bound keeps the
#:     bound VALID and costs <~4% looseness in block-max pruning.
#:   * pos_lens   <u2 x n, or <u4 (wflags bit 1)
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("term_id", T.LongType(), False),
        # term string exactly once per (split, term) — the dictionary agg
        # recovers it with max() and detects 64-bit collisions via min!=max
        T.StructField("term", T.StringType(), True),
        T.StructField("ford", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("cf", T.LongType(), False),
        # dense doc ORDINAL of the run's first posting, in [0, n_docs) —
        # NOT the 64-bit external doc_id.  Posting lists gap-encode ords:
        # dense keys make gaps ~n_docs/df (1-2 varbyte bytes) instead of
        # ~2^64/df for hashed ids.  The external doc_id is recovered per
        # eval band via the DOCMAP table.
        T.StructField("min_ord", T.LongType(), False),
        T.StructField("ord_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        # per-posting position-stream byte lengths + the run's concatenated
        # delta+varbyte position streams (each posting's chain restarts
        # absolute, so runs concatenate byte-wise)
        T.StructField("pos_lens", T.BinaryType(), False),
        T.StructField("pos_data", T.BinaryType(), False),
        # per-run stream width flags (see module comment); 0 on sidecars
        T.StructField("wflags", T.ByteType(), False),
    ]
)

#: wflags bits: tf / pos_lens streams are <u4 instead of <u2
WIDE_TF = 1
WIDE_PL = 2

#: dl quantization grid for the staging dl stream: code c decodes to
#: _DL_BASE**c, a LOWER bound of the true dl (see dl_code_of)
_DL_BASE = 1.08
_DL_LUT = np.power(_DL_BASE, np.arange(256), dtype=np.float64)


def dl_code_of(dl: np.ndarray) -> np.ndarray:
    """Integer field lengths (>= 1) -> uint8 grid codes with the invariant
    ``_DL_LUT[code] <= dl`` (so block max_norm stays a valid upper bound).
    dl above the grid top (~3.4e8) clips to 255 — still a lower bound."""
    d = np.maximum(np.asarray(dl, dtype=np.float64), 1.0)
    code = np.clip(
        (np.log(d) * (1.0 / np.log(_DL_BASE))).astype(np.int64), 0, 255
    )
    # float-rounding guard: never decode ABOVE the true dl
    code -= _DL_LUT[code] > d
    return np.clip(code, 0, 255).astype(np.uint8)


def _width_stream(
    values: np.ndarray, bounds: np.ndarray, wide: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Run-major non-negative ints -> (byte stream, per-run BYTE bounds):
    narrow runs store <u2, wide ones <u4.  ``bounds`` are the k+1 posting
    bounds; ``wide`` flags the k runs.  All-narrow / all-wide fast paths
    are single casts; the mixed path is two ragged scatters."""
    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        _ragged_gather,
    )

    if not wide.any():
        return values.astype("<u2").tobytes(), bounds * 2
    if wide.all():
        return values.astype("<u4").tobytes(), bounds * 4
    ns = np.diff(bounds)
    w_run = np.where(wide, 4, 2).astype(np.int64)
    byte_bounds = np.zeros(len(bounds), dtype=np.int64)
    np.cumsum(ns * w_run, out=byte_bounds[1:])
    out = np.empty(int(byte_bounds[-1]), dtype=np.uint8)
    for width, mask, dt in ((2, ~wide, "<u2"), (4, wide, "<u4")):
        if not mask.any():
            continue
        bidx = _ragged_gather(byte_bounds[:-1][mask], ns[mask] * width)
        vidx = _ragged_gather(bounds[:-1][mask], ns[mask])
        out[bidx] = np.frombuffer(
            values[vidx].astype(dt).tobytes(), dtype=np.uint8
        )
    return out.tobytes(), byte_bounds


def _width_decode(
    stream: bytes, ns: np.ndarray, wide: np.ndarray
) -> np.ndarray:
    """Inverse of :func:`_width_stream` over CONCATENATED rows: ``ns`` and
    ``wide`` are per-row posting counts / width flags."""
    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        _ragged_gather,
    )

    if not wide.any():
        return np.frombuffer(stream, dtype="<u2").astype(np.int64)
    if wide.all():
        return np.frombuffer(stream, dtype="<u4").astype(np.int64)
    raw = np.frombuffer(stream, dtype=np.uint8)
    w_run = np.where(wide, 4, 2).astype(np.int64)
    byte_starts = np.concatenate([[0], np.cumsum(ns * w_run)[:-1]])
    val_starts = np.concatenate([[0], np.cumsum(ns)[:-1]])
    out = np.empty(int(ns.sum()), dtype=np.int64)
    for width, mask, dt in ((2, ~wide, "<u2"), (4, wide, "<u4")):
        if not mask.any():
            continue
        bidx = _ragged_gather(byte_starts[mask], ns[mask] * width)
        vidx = _ragged_gather(val_starts[mask], ns[mask])
        out[vidx] = np.frombuffer(raw[bidx].tobytes(), dtype=dt).astype(
            np.int64
        )
    return out


#: docs per tokenizer call — bounds the analyzer working set; the packed
#: emit accumulates the whole split regardless, so this only trades
#: factorize-call overhead against span-cache churn
TOKENIZE_CHUNK_DOCS = 2048

#: posting blocks are keyed by the numeric ``term_id`` (see term_id_of) — the
#: heavy build/query paths stay ALL-NUMERIC (term strings live only in the
#: dictionary table, which wildcard/range scans read).  String columns in
#: Arrow/pandas hops cost ~1-2 µs/value and saturate memory bandwidth at
#: tens of millions of postings; numeric keys also shrink the postings
#: table and push down as long filters.  64-bit id collision risk is
#: ~n²/2⁶⁵ over the vocabulary (not the corpus) — swap to a 128-bit pair
#: at >10⁸ distinct terms.
BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("blk_seq", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        # min/max of the block's dense ords (the posting id space); the
        # names keep the Lucene skip-entry vocabulary
        T.StructField("min_docid", T.LongType(), False),
        T.StructField("max_docid", T.LongType(), False),
        # max tf_norm over the block — the DF-INDEPENDENT part of the BM25
        # block upper bound.  The evaluator multiplies by idf(df) from the
        # dictionary at query time (block-max ub = idf * max_norm), so the
        # postings build never needs per-term df: the full-dictionary join
        # that fed df to every posting row is gone (one wide shuffle saved;
        # only the tiny heavy-term salt map is broadcast).
        T.StructField("max_norm", T.DoubleType(), False),
        T.StructField("docids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        # NO per-posting dls stream: document lengths live in the per-band
        # DOCMAP sidecar (one int32 per doc-field, not one varbyte per
        # POSTING) - the Lucene norms-file analogue, distributed
        T.StructField("posdata", T.BinaryType(), False),
    ]
)


def ord_bits_of(n_docs: int) -> int:
    """Bit width of the dense ordinal space (>=1 so shifts stay valid)."""
    return max(int(max(n_docs, 1) - 1).bit_length(), 1)


def ord_shift_of(n_docs: int, band_bits: int) -> int:
    """Right-shift taking an ord to its eval band: band = ord >> shift.
    Bands are CONTIGUOUS ord ranges, so each band's ord -> doc_id
    translation is one packed array slice (see DOCMAP)."""
    return max(ord_bits_of(n_docs) - band_bits, 0)


def partition_offsets(corpus: DataFrame) -> tuple[list[int], int]:
    """Per-input-partition starting ordinals: ord = offsets[pid] + row
    index within the partition.

    ONE narrow job (zero-column scan + map-side count); no shuffle of the
    corpus and no driver-side rows beyond one int per partition.  Both the
    docs pass and the tokenize pass attach ords from these offsets — file
    scans plan partitions from the file listing + size config only, so two
    scans of the same immutable input see identical (partition -> rows)
    maps (the zipWithIndex determinism contract, without the RDD hop)."""
    counts = {
        int(r["pid"]): int(r["n"])
        for r in corpus.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_parts = (max(counts) + 1) if counts else 0
    offsets, acc = [], 0
    for pid in range(n_parts):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    return offsets, acc


def expected_counts(offsets: list[int], n_docs: int) -> list[int]:
    """Per-partition row counts implied by the committed offsets — the
    contract every later pass over the same input must reproduce."""
    bounds = offsets + [n_docs]
    return [bounds[i + 1] - bounds[i] for i in range(len(offsets))]


def _check_partition_count(pid: int, seen: int, expected: list[int] | None):
    """Doc_id-alignment guard: a pass that observes a different per-partition
    row count than the offsets pass would silently mis-assign dense ords
    (every posting keyed to the wrong doc).  The contract (immutable input +
    fixed scan conf => identical partition planning) normally holds; this
    makes any violation loud AT THE TASK, not a wrong index."""
    if expected is not None and pid < len(expected) and seen != expected[pid]:
        raise RuntimeError(
            f"partition {pid} saw {seen} rows but the offsets pass saw "
            f"{expected[pid]} — input partitioning drifted between scans; "
            "materialize the corpus (write to parquet) before building"
        )


def attach_ords(
    df: DataFrame, offsets: list[int], expected: list[int] | None = None
) -> DataFrame:
    """Append the dense ``ord`` column from partition offsets (no shuffle).
    ``expected`` (per-partition counts from the offsets pass) turns any
    partition-planning drift into a task failure instead of silent ord
    misalignment."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("ord", T.LongType(), False)]
    )

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        nxt = offsets[pid] if pid < len(offsets) else 0
        for rb in _aligned_batches(batches, pid, offsets, expected):
            ords = pa.array(
                np.arange(nxt, nxt + rb.num_rows, dtype=np.int64), pa.int64()
            )
            nxt += rb.num_rows
            yield rb.append_column("ord", ords)

    return df.mapInArrow(run, out_schema)


def _aligned_batches(batches, pid: int, offsets: list[int], expected):
    """Pass one task's input batches through, failing loudly when the task
    sees other rows than the offsets pass did.

    The offsets pass sees only NON-EMPTY pids, so trailing empty
    partitions (tiny files split to satisfy minPartitionNum: parquet
    row-groups don't split, so later byte ranges carry no rows) may have
    pid >= len(offsets).  They are legal and yield nothing; a ROW arriving
    there is planning drift.  The per-partition count is checked once the
    input is exhausted."""
    start = offsets[pid] if pid < len(offsets) else None
    seen = 0
    for rb in batches:
        if start is None and rb.num_rows:
            raise RuntimeError(
                f"partition {pid} has rows but the offsets pass saw only "
                f"{len(offsets)} partitions — input partitioning drifted "
                "between scans; materialize the corpus (write to parquet) "
                "before building"
            )
        seen += rb.num_rows
        yield rb
    if start is not None:
        _check_partition_count(pid, seen, expected)


def _tokens_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("kind", pa.int8()),
            ("term_id", pa.int64()),
            ("term", pa.string()),
            ("ford", pa.int32()),
            ("n", pa.int32()),
            ("cf", pa.int64()),
            ("min_ord", pa.int64()),
            ("ord_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("dl_bytes", pa.binary()),
            ("pos_lens", pa.binary()),
            ("pos_data", pa.binary()),
            ("wflags", pa.int8()),
        ]
    )


def _pack_field_runs(ford: int, a: dict, cache) -> "object":
    """One field's accumulated chunk postings -> ONE packed RecordBatch
    (one row per term: the split's ord-sorted posting run).  Entirely
    vectorized: lexsort by (term_id, ord), one ragged byte-gather for the
    position streams, and every binary column is (offsets, stream) buffers
    over the sorted streams — zero per-posting Python."""
    import pyarrow as pa

    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        _ragged_gather,
    )

    tid = np.concatenate(a["tid"])
    ordc = np.concatenate(a["ord"]).astype(np.int64)
    tf = np.concatenate(a["tf"]).astype(np.int32)
    dl = np.concatenate(a["dl"]).astype(np.int32)
    # per-posting byte (start, len) into the concatenated position stream
    pos_stream = np.frombuffer(b"".join(a["pos_data"]), dtype=np.uint8)
    starts_parts, off = [], 0
    for b in a["pos_bounds"]:
        starts_parts.append(b[:-1] + off)
        off += int(b[-1])
    pos_starts = np.concatenate(starts_parts).astype(np.int64)
    pos_lens = np.concatenate(
        [np.diff(b) for b in a["pos_bounds"]]
    ).astype(np.int64)

    order = np.lexsort((ordc, tid))
    tid_s = tid[order]
    ord_s = ordc[order]
    tf_s = tf[order]
    dl_s = dl[order]
    lens_s = pos_lens[order]
    pos_s = pos_stream[_ragged_gather(pos_starts[order], lens_s)]

    n = len(tid_s)
    gb = np.empty(n, dtype=bool)
    gb[0] = True
    gb[1:] = tid_s[1:] != tid_s[:-1]
    rs = np.flatnonzero(gb)
    bounds = np.append(rs, n)
    ns = np.diff(bounds).astype(np.int32)
    cfs = np.add.reduceat(tf_s.astype(np.int64), rs)
    run_tids = tid_s[rs]
    tid_term = cache.tid_term
    terms = [tid_term[int(t)] for t in run_tids]
    k = len(rs)
    pos_cum = np.concatenate([[0], np.cumsum(lens_s)]).astype(np.int64)
    # narrow streams (see TOKENS_SCHEMA comment): rel-u32 ords, width-
    # flagged u16/u32 tf + pos_lens, u8 quantized-lower-bound dl
    ns64 = ns.astype(np.int64)
    rel = ord_s - np.repeat(ord_s[rs], ns64)
    if n and int(rel.max()) >= 1 << 32:
        raise ValueError(
            "posting run ord span exceeds 32 bits — input split too large "
            "for the rel-u32 staging format (split the scan finer)"
        )
    tf64 = tf_s.astype(np.int64)
    wide_tf = np.maximum.reduceat(tf64, rs) > 0xFFFF
    wide_pl = np.maximum.reduceat(lens_s, rs) > 0xFFFF
    tf_stream, tf_bounds = _width_stream(tf64, bounds, wide_tf)
    pl_stream, pl_bounds = _width_stream(lens_s, bounds, wide_pl)
    wflags = (
        wide_tf.astype(np.int8) * WIDE_TF + wide_pl.astype(np.int8) * WIDE_PL
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.zeros(k, dtype=np.int8), pa.int8()),
            pa.array(run_tids, pa.int64()),
            pa.array(terms, pa.string()),
            pa.array(np.full(k, ford, dtype=np.int32), pa.int32()),
            pa.array(ns, pa.int32()),
            pa.array(cfs, pa.int64()),
            pa.array(ord_s[rs], pa.int64()),
            _binary_from_stream(rel.astype("<u4").tobytes(), bounds * 4),
            _binary_from_stream(tf_stream, tf_bounds),
            _binary_from_stream(dl_code_of(dl_s).tobytes(), bounds.copy()),
            _binary_from_stream(pl_stream, pl_bounds),
            _binary_from_stream(pos_s.tobytes(), pos_cum[bounds]),
            pa.array(wflags, pa.int8()),
        ],
        schema=_tokens_arrow_schema(),
    )


def _pack_sentinel(ford: int, s: dict) -> "object":
    """Per-(split, field) doc-length sidecar row (kind=1): packed split doc
    ords + per-doc field lengths, consumed by the DOCMAP stage."""
    import pyarrow as pa

    ords = np.concatenate(s["ord"]).astype(np.int64)
    dls = np.concatenate(s["dl"]).astype(np.int64)
    nb = len(ords)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([1], pa.int8()),
            pa.array([-1], pa.int64()),
            pa.array([None], pa.string()),
            pa.array([ford], pa.int32()),
            pa.array([nb], pa.int32()),
            pa.array([int(dls.sum())], pa.int64()),
            pa.array([int(ords[0]) if nb else 0], pa.int64()),
            pa.array([ords.astype("<i8").tobytes()], pa.binary()),
            pa.array([b""], pa.binary()),
            pa.array([dls.astype("<i4").tobytes()], pa.binary()),
            pa.array([b""], pa.binary()),
            pa.array([b""], pa.binary()),
            pa.array([0], pa.int8()),
        ],
        schema=_tokens_arrow_schema(),
    )


def tokenizer_specs(config: EngineConfig) -> list[tuple[str, str, list[str]]]:
    """ChunkTokenizer specs: (field name, analyzer, source columns)."""
    return [(f.name, f.analyzer, list(f.source_columns)) for f in config.fields]


def tokenize_split(tok, batches, start_ord: int):
    """One input split's Arrow batches -> its PACKED TOKENS_SCHEMA batches
    (per field: one posting-run batch, then its doc-length sidecar).
    Rows take dense ords ``start_ord, start_ord + 1, ...`` in input order.
    Every input batch is consumed before the first output is yielded.
    ``tok`` is a ChunkTokenizer over ``tokenizer_specs``; its field caches
    hold the split's tid <-> term maps afterwards."""
    src_cols = sorted({c for _, _, cols in tok.specs for c in cols})
    chunk = TOKENIZE_CHUNK_DOCS  # docs per tokenizer call
    next_ord = start_ord
    acc: dict[int, dict] = {}
    sent: dict[int, dict] = {}
    for rb in batches:
        names = rb.schema.names
        for lo in range(0, rb.num_rows, chunk):
            sub = rb.slice(lo, chunk)
            doc_ids = np.arange(
                next_ord, next_ord + sub.num_rows, dtype=np.int64
            )
            next_ord += sub.num_rows
            columns = {
                c: sub.column(names.index(c)).to_pylist() for c in src_cols
            }
            for r in tok.tokenize(columns, doc_ids):
                a = acc.setdefault(
                    r["ford"],
                    {"tid": [], "ord": [], "tf": [], "dl": [],
                     "pos_data": [], "pos_bounds": []},
                )
                a["tid"].append(r["term_id"])
                a["ord"].append(r["doc_id"])
                a["tf"].append(r["tf"])
                a["dl"].append(r["dl"])
                a["pos_data"].append(r["pos_data"])
                a["pos_bounds"].append(r["pos_bounds"])
                # doc-length sidecar: rows are doc-major, so each doc's
                # first posting carries its (ord, dl) once
                d = r["doc_id"]
                first = np.empty(len(d), dtype=bool)
                first[0] = True
                first[1:] = d[1:] != d[:-1]
                sd = sent.setdefault(r["ford"], {"ord": [], "dl": []})
                sd["ord"].append(d[first])
                sd["dl"].append(r["dl"][first])
    for ford in sorted(acc):
        yield _pack_field_runs(ford, acc[ford], tok.caches[ford])
        yield _pack_sentinel(ford, sent[ford])


def tokenize_corpus(
    corpus: DataFrame,
    config: EngineConfig,
    offsets: list[int],
    expected: list[int] | None = None,
    direct_out: str | None = None,
    docs_out: str | None = None,
    docs_cols: list[str] | None = None,
) -> DataFrame:
    """corpus -> PACKED TOKENS_SCHEMA rows: one posting RUN per (term,
    input split) plus one doc-length sidecar row per (split, field) — the
    per-partition local index of the build-local-then-merge design.
    Postings are keyed by the dense ``ord`` assigned from ``offsets`` (see
    partition_offsets) — the 64-bit doc_id never enters the postings path.

    Vectorized via mapInArrow + the unique-span tokenizer
    (functions/vtokenize.py): the analyzer chain runs once per *unique*
    span (process-lifetime cache), posting aggregation is NumPy
    lexsort/reduce, and packing is one lexsort + one ragged gather per
    (split, field) with every binary column built zero-copy from
    (offsets, stream) buffers — no per-row or per-posting Python anywhere
    (input_hint mandate)."""
    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        ChunkTokenizer,
    )

    specs = tokenizer_specs(config)
    src_cols = sorted({c for f in config.fields for c in f.source_columns})

    def run(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # same trailing-empty-partition contract as attach_ords
        yield from tokenize_split(
            ChunkTokenizer(specs),
            _aligned_batches(batches, pid, offsets, expected),
            offsets[pid] if pid < len(offsets) else 0,
        )

    if direct_out is not None:
        # staging build path: tasks parquet-encode their own packed runs
        # (+ bucket column) and return only per-field cf-sum stat rows.
        # With docs_out the same scan ALSO writes the DOCS table (tee on
        # the input batches) — one corpus read instead of two.
        inner = run
        in_cols = list(src_cols)
        if docs_out is not None:
            cols = docs_cols or []
            in_cols += [c for c in cols if c not in src_cols]
            tee = make_docs_tee(docs_out, cols, offsets)
            inner = lambda batches: run(tee(batches))  # noqa: E731
        writer = make_direct_staging_writer(
            inner, direct_out, config.n_term_buckets
        )
        return corpus.select(*in_cols).mapInArrow(
            writer, STAGING_STATS_SCHEMA
        )
    return corpus.select(*src_cols).mapInArrow(run, TOKENS_SCHEMA)


#: DOCMAP sidecar rows: ford == -1 -> packed int64 ord -> doc_id array
#: (ord order), ford == k >= 0 -> packed int32 per-doc lengths of field k,
#: ford == -2 -> packed int64 TOMBSTONED ords (docs superseded by a later
#: append; the evaluator filters them out of every posting list)
DOCMAP_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType(), False),
        T.StructField("ford", T.IntegerType(), False),
        T.StructField("blk_seq", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

TOMBSTONE_FORD = -2

#: docmap payload chunking — no parquet cell or eval allocation exceeds
#: ~2 MB even for giant bands
DOCMAP_CHUNK = 262_144


def unpack_sidecar_dls(sent: DataFrame) -> DataFrame:
    """kind-1 staging sidecar rows -> (ford, ord, value) rows: a tiny unpack
    pass instead of a per-posting groupBy."""
    unpack_schema = T.StructType(
        [
            T.StructField("ford", T.IntegerType(), False),
            T.StructField("ord", T.LongType(), False),
            T.StructField("value", T.LongType(), False),
        ]
    )

    def unpack(batches):
        import pyarrow as pa

        for rb in batches:
            idx = {f: i for i, f in enumerate(rb.schema.names)}
            fords = rb.column(idx["ford"]).to_pylist()
            obs_col = rb.column(idx["ord_bytes"]).to_pylist()
            dls_col = rb.column(idx["dl_bytes"]).to_pylist()
            for fo, ob, db in zip(fords, obs_col, dls_col):
                ords = np.frombuffer(ob, dtype="<i8")
                vals = np.frombuffer(db, dtype="<i4").astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(ords), fo, dtype=np.int32), pa.int32()),
                        pa.array(ords, pa.int64()),
                        pa.array(vals, pa.int64()),
                    ],
                    names=["ford", "ord", "value"],
                )

    return sent.mapInArrow(unpack, unpack_schema)


def docmap_rows(
    docs_df: DataFrame, sent: DataFrame, ord_shift: int, end_ord: int
) -> DataFrame:
    """Per-band packed DOCMAP rows from a (ord, doc_id) docs slice and its
    kind-1 staging sidecars.  Each band is a contiguous ord range starting
    at ``band << ord_shift`` and filled densely up to ``end_ord`` — append
    batches guarantee this by band-aligning their base ordinal."""
    ids_part = docs_df.select(
        F.lit(-1).alias("ford"), "ord", F.col("doc_id").alias("value")
    )
    dls_part = unpack_sidecar_dls(sent)
    dm = ids_part.unionByName(dls_part).withColumn(
        "band", F.shiftright("ord", ord_shift).cast("int")
    )
    _end, _shift = int(end_ord), int(ord_shift)

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            pack_docmap_group(
                int(key[0]), int(key[1]),
                pdf["ord"].to_numpy(np.int64), pdf["value"].to_numpy(np.int64),
                _end, _shift,
            ),
            columns=["band", "ford", "blk_seq", "n", "payload"],
        )

    return dm.groupBy("band", "ford").applyInPandas(pack, DOCMAP_SCHEMA)


def pack_docmap_group(
    band: int, ford: int, o: np.ndarray, vals: np.ndarray,
    end_ord: int, ord_shift: int,
) -> list[tuple]:
    """One (band, ford) group's (ord, value) pairs -> DOCMAP rows
    ``(band, ford, blk_seq, n, payload)``: ford < 0 packs the band's
    doc_ids in ord order, ford >= 0 scatters field lengths into a dense
    int32 array over the band (filled up to ``end_ord``)."""
    band_start = band << ord_shift
    band_n = min(end_ord - band_start, 1 << ord_shift)
    if ford < 0:  # dense & complete: sort into ord order
        arr = vals[np.argsort(o)].astype("<i8")
    else:  # sparse per field: scatter into a dense int32 array
        arr = np.zeros(band_n, dtype="<i4")
        arr[o - band_start] = vals
    rows = []
    for seq, lo in enumerate(range(0, len(arr), DOCMAP_CHUNK)):
        blk = arr[lo : lo + DOCMAP_CHUNK]
        rows.append((band, ford, seq, len(blk), blk.tobytes()))
    return rows


def write_doc_stats(
    cat: IndexCatalog, field_names: list[str], sum_dl: dict, n_docs: int
) -> None:
    """(Re)write the tiny per-field stats table driver-side with pyarrow —
    a Spark job for 4 rows pays the createDataFrame warmup for nothing.
    Appends rewrite it with updated N/avgdl (values are derivable from the
    manifest: build base + committed delta sums, so a crash mid-write is
    repaired by the next append/commit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pathlib import Path as _Path

    tbl = pa.table(
        {
            "field": pa.array(field_names, pa.string()),
            "sum_dl": pa.array(
                [int(sum_dl.get(fn, 0)) for fn in field_names], pa.int64()
            ),
            "n_docs": pa.array([n_docs] * len(field_names), pa.int64()),
            "avgdl": pa.array(
                [
                    sum_dl.get(fn, 0) / n_docs if n_docs else 1.0
                    for fn in field_names
                ],
                pa.float64(),
            ),
        }
    )
    stats_dir = _Path(cat.path(IndexCatalog.DOC_STATS))
    stats_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, stats_dir / "part-00000.parquet")


def _band_of(ords: np.ndarray, ord_shift: int) -> np.ndarray:
    """ord -> eval band (top bits of the dense ordinal: bands are
    contiguous, near-equal ord ranges)."""
    return (ords.astype(np.int64) >> np.int64(ord_shift)).astype(np.int64)


def _slice_columns(c: dict, lo: int, hi: int) -> dict:
    """Slice the builder's two-level column dict to postings [lo, hi).
    Slice bounds are GROUP starts, and groups align to run-row boundaries,
    so the row-level arrays slice exactly too."""
    rs = c["row_starts"]
    r0 = int(np.searchsorted(rs, lo))
    r1 = int(np.searchsorted(rs, hi))
    out = {k: c[k][r0:r1] for k in ("row_tid", "row_salt", "row_ford", "row_ns")}
    out["row_starts"] = rs[r0:r1] - lo
    for k in ("ord", "tf", "dl"):
        out[k] = c[k][lo:hi]
    po = c["pos_off"]
    out["pos_data"] = c["pos_data"][int(po[lo]) : int(po[hi])]
    out["pos_off"] = po[lo : hi + 1] - po[lo]
    return out


def _arrow_blocks_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term_id", pa.int64()),
            ("salt", pa.int32()),
            ("band", pa.int32()),
            ("blk_seq", pa.int32()),
            ("n", pa.int32()),
            ("min_docid", pa.int64()),
            ("max_docid", pa.int64()),
            ("max_norm", pa.float64()),
            ("docids", pa.binary()),
            ("tfs", pa.binary()),
            ("posdata", pa.binary()),
        ]
    )


def _binary_from_stream(stream: bytes, boundaries: np.ndarray):
    """Blocks tile the stream consecutively, so the output BinaryArray is
    just (int32 offsets, the stream itself) — no per-block slicing."""
    import pyarrow as pa

    if len(boundaries) and int(boundaries[-1]) >= 2**31:
        # int32 Arrow offsets would silently wrap -> corrupt postings table
        raise ValueError(
            f"builder batch stream is {int(boundaries[-1])} bytes (>= 2 GiB); "
            "lower the Arrow batch size (spark.sql.execution.arrow."
            "maxRecordsPerBatch) or raise n_term_buckets"
        )
    return pa.Array.from_buffers(
        pa.binary(),
        len(boundaries) - 1,
        [None, pa.py_buffer(boundaries.astype(np.int32).tobytes()), pa.py_buffer(stream)],
    )


def _build_blocks_batch(
    c: dict,
    n_docs: float,
    avgdl: np.ndarray,
    k1: float,
    b: float,
    block_size: int,
    ord_shift: int,
):
    """Fully-vectorized block construction for a batch of COMPLETE
    (term_id, salt) groups, already sorted by (term_id, salt, ord).
    Every codec pass runs ONCE over the whole batch; the output binary
    columns are offset arrays over the batch-level varbyte streams
    (consecutive blocks tile each stream) — zero per-block python.

    ``c`` carries keys at TWO levels (round-4 kernel diet — this batch is
    the hottest merge code, ~1.2M postings/s/core before, and the repeats
    + defensive astype copies were ~40%% of it):

    * per RUN ROW: ``row_tid row_salt row_ford row_ns row_starts`` —
      group keys never materialize per posting; posting-level group
      changes scatter from row-level key changes, and block-start keys
      gather back through one searchsorted;
    * per POSTING: ``ord tf dl pos_off pos_data`` (dl = quantized LOWER
      bounds from dl_code_of: only max_norm consumes them, and tf_norm is
      decreasing in dl, so the block upper bound stays valid, <=~4%%
      looser than exact)."""
    import pyarrow as pa

    n = len(c["ord"])
    doc_ids = np.asarray(c["ord"], np.int64)  # dense ords (block id space)
    tfs = np.asarray(c["tf"], np.int64)
    dls = np.asarray(c["dl"], np.float64)
    row_tid = np.asarray(c["row_tid"], np.int64)
    row_salt = np.asarray(c["row_salt"], np.int64)
    row_starts = np.asarray(c["row_starts"], np.int64)
    bands = doc_ids >> np.int64(ord_shift)

    idx = np.arange(n, dtype=np.int64)
    rkc = np.empty(len(row_tid), dtype=bool)
    rkc[0] = True
    rkc[1:] = (row_tid[1:] != row_tid[:-1]) | (row_salt[1:] != row_salt[:-1])
    group_change = np.zeros(n, dtype=bool)
    group_change[row_starts[rkc]] = True
    gb_change = group_change.copy()
    gb_change[1:] |= bands[1:] != bands[:-1]
    anchor = np.maximum.accumulate(np.where(gb_change, idx, 0))
    is_start = gb_change | ((idx - anchor) % block_size == 0)
    starts = np.flatnonzero(is_start)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n
    # block-start group keys: one searchsorted back to the run rows
    ridx = np.searchsorted(row_starts, starts, side="right") - 1
    tid_s = row_tid[ridx]
    slt_s = row_salt[ridx]

    # blk_seq: block ordinal within its (field, term, salt) group
    g_id = np.cumsum(group_change) - 1
    block_group = g_id[starts]
    bidx = np.arange(len(starts), dtype=np.int64)
    first_blk = np.empty(len(starts), dtype=bool)
    first_blk[0] = True
    first_blk[1:] = block_group[1:] != block_group[:-1]
    blk_anchor = np.maximum.accumulate(np.where(first_blk, bidx, 0))
    blk_seq = bidx - blk_anchor

    # docids: gaps within a block, absolute (shifted) value at block start
    u = doc_ids.view(np.uint64) + np.uint64(1 << 63)
    gaps = np.empty_like(u)
    gaps[0] = u[0]
    gaps[1:] = u[1:] - u[:-1]
    gaps[starts] = u[starts]
    doc_bytes, doc_ends = codec.varbyte_encode_offsets(gaps)
    tf_bytes, tf_ends = codec.varbyte_encode_offsets(tfs.view(np.uint64))

    # positions arrive pre-encoded per posting (delta varbyte, absolute
    # first value) as ONE stream + offsets — block posdata boundaries are
    # just offset lookups
    pos_off = c["pos_off"]
    pos_data = c["pos_data"]

    # the ONLY per-posting repeat left: avgdl by field ordinal for norms
    av = np.repeat(
        avgdl[np.asarray(c["row_ford"], np.int64)],
        np.asarray(c["row_ns"], np.int64),
    )
    # df-independent: the evaluator folds idf(df) in at query time
    norms = scoring.tf_norm(tfs, dls, av, k1, b)
    ubs = np.maximum.reduceat(norms, starts)

    de = np.concatenate([[0], doc_ends])
    te = np.concatenate([[0], tf_ends])
    bounds = np.append(starts, n)
    arrays = [
        pa.array(tid_s, pa.int64()),
        pa.array(slt_s.astype(np.int32), pa.int32()),
        pa.array(bands[starts].astype(np.int32), pa.int32()),
        pa.array(blk_seq.astype(np.int32), pa.int32()),
        pa.array((ends - starts).astype(np.int32), pa.int32()),
        pa.array(doc_ids[starts], pa.int64()),
        pa.array(doc_ids[ends - 1], pa.int64()),
        pa.array(ubs, pa.float64()),
        _binary_from_stream(doc_bytes, de[bounds]),
        _binary_from_stream(tf_bytes, te[bounds]),
        _binary_from_stream(pos_data, pos_off[bounds]),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=_arrow_blocks_schema())


#: Spark schema of salted packed runs (postings-job shuffle rows)
SALTED_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("ford", T.IntegerType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("min_ord", T.LongType(), False),
        T.StructField("ord_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        T.StructField("pos_lens", T.BinaryType(), False),
        T.StructField("pos_data", T.BinaryType(), False),
        T.StructField("wflags", T.ByteType(), False),
    ]
)


def _heavy_salt_map(dict_df: DataFrame, config: EngineConfig) -> dict[int, int]:
    """{term_id: salt_bits} for the SKEWED terms only — df above the salt
    target.  Provably tiny: at most total_postings / salt_target entries
    (73M postings / 20k target = <=3.6k terms), so it collects/broadcasts at
    ANY corpus scale — unlike the full dictionary (|vocab| rows), which the
    round-1 build joined against every staged posting row."""
    max_bits = int(math.log2(config.max_salts))
    rows = (
        dict_df.where(F.col("df") > F.lit(config.salt_target_postings))
        .select(
            "term_id",
            F.least(
                F.ceil(
                    F.log2(F.col("df") / F.lit(config.salt_target_postings))
                ).cast("int"),
                F.lit(max_bits),
            ).alias("salt_bits"),
        )
        .collect()
    )
    return {int(r["term_id"]): int(r["salt_bits"]) for r in rows}


def salt_runs(batches, heavy_tids: np.ndarray, heavy_bits: np.ndarray, ord_bits: int):
    """Packed-run batches -> SALTED_SCHEMA batches (see _salt_packed_runs):
    ``heavy_tids`` sorted, ``heavy_bits`` their salt bit counts."""
    import pyarrow as pa

    ob = int(ord_bits)
    out_names = [f.name for f in SALTED_SCHEMA.fields]
    for rb in batches:
        idx = {f: i for i, f in enumerate(rb.schema.names)}
        tid = rb.column(idx["term_id"]).to_numpy(zero_copy_only=False)
        if len(heavy_tids):
            pos = np.searchsorted(heavy_tids, tid).clip(
                max=len(heavy_tids) - 1
            )
            is_heavy = heavy_tids[pos] == tid
        else:
            is_heavy = np.zeros(len(tid), dtype=bool)
        light_mask = pa.array(~is_heavy)
        light = rb.filter(light_mask)
        if light.num_rows:
            yield pa.RecordBatch.from_arrays(
                [
                    light.column(idx["term_id"]),
                    light.column(idx["ford"]),
                    pa.array(
                        np.zeros(light.num_rows, dtype=np.int32),
                        pa.int32(),
                    ),
                    light.column(idx["n"]),
                    light.column(idx["min_ord"]),
                    light.column(idx["ord_bytes"]),
                    light.column(idx["tf_bytes"]),
                    light.column(idx["dl_bytes"]),
                    light.column(idx["pos_lens"]),
                    light.column(idx["pos_data"]),
                    light.column(idx["wflags"]),
                ],
                names=out_names,
            )
        if not is_heavy.any():
            continue
        hv = rb.filter(pa.array(is_heavy))
        bits = heavy_bits[pos[is_heavy]]
        h_tid = hv.column(idx["term_id"]).to_pylist()
        h_ford = hv.column(idx["ford"]).to_pylist()
        h_mo = hv.column(idx["min_ord"]).to_pylist()
        h_ob = hv.column(idx["ord_bytes"]).to_pylist()
        h_tb = hv.column(idx["tf_bytes"]).to_pylist()
        h_db = hv.column(idx["dl_bytes"]).to_pylist()
        h_pl = hv.column(idx["pos_lens"]).to_pylist()
        h_pd = hv.column(idx["pos_data"]).to_pylist()
        h_wf = hv.column(idx["wflags"]).to_pylist()
        rows = {k: [] for k in out_names}
        for i in range(hv.num_rows):
            rel = np.frombuffer(h_ob[i], dtype="<u4").astype(np.int64)
            ords = int(h_mo[i]) + rel
            wtf = 4 if (h_wf[i] & WIDE_TF) else 2
            wpl = 4 if (h_wf[i] & WIDE_PL) else 2
            shift = max(ob - int(bits[i]), 0)
            salts = (ords >> shift).astype(np.int64)
            cut = np.concatenate(
                [[0], np.flatnonzero(salts[1:] != salts[:-1]) + 1,
                 [len(ords)]]
            )
            pl = np.frombuffer(
                h_pl[i], dtype="<u2" if wpl == 2 else "<u4"
            ).astype(np.int64)
            pc_off = np.concatenate([[0], np.cumsum(pl)])
            for j0, j1 in zip(cut[:-1], cut[1:]):
                j0, j1 = int(j0), int(j1)
                rows["term_id"].append(h_tid[i])
                rows["ford"].append(h_ford[i])
                rows["salt"].append(int(salts[j0]))
                rows["n"].append(j1 - j0)
                rows["min_ord"].append(int(ords[j0]))
                # sub-run streams re-base rel ords on their own first
                # ord; tf/dl/pos widths are inherited from the parent
                # run (sub-run maxima can only shrink, so the flags
                # stay valid — at worst a few wastefully-wide bytes)
                rows["ord_bytes"].append(
                    (rel[j0:j1] - rel[j0]).astype("<u4").tobytes()
                )
                rows["tf_bytes"].append(h_tb[i][j0 * wtf : j1 * wtf])
                rows["dl_bytes"].append(h_db[i][j0:j1])
                rows["pos_lens"].append(h_pl[i][j0 * wpl : j1 * wpl])
                rows["pos_data"].append(
                    h_pd[i][int(pc_off[j0]) : int(pc_off[j1])]
                )
                rows["wflags"].append(h_wf[i])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(rows["term_id"], pa.int64()),
                pa.array(rows["ford"], pa.int32()),
                pa.array(rows["salt"], pa.int32()),
                pa.array(rows["n"], pa.int32()),
                pa.array(rows["min_ord"], pa.int64()),
                pa.array(rows["ord_bytes"], pa.binary()),
                pa.array(rows["tf_bytes"], pa.binary()),
                pa.array(rows["dl_bytes"], pa.binary()),
                pa.array(rows["pos_lens"], pa.binary()),
                pa.array(rows["pos_data"], pa.binary()),
                pa.array(rows["wflags"], pa.int8()),
            ],
            names=out_names,
        )


def _salt_packed_runs(
    staged: DataFrame, heavy: dict[int, int], ord_bits: int
) -> DataFrame:
    """Packed staging runs -> SALTED_SCHEMA rows: light terms (all but the
    bounded heavy map) pass through columnar with salt=0; heavy terms'
    runs are CUT at ord-top-bits salt boundaries (ords are sorted within a
    run, so each cut is a searchsorted + stream slice).  Per-salt posting
    runs stay contiguous ord ranges, bounded, and globally mergeable by
    concatenation."""
    heavy_tids = np.array(sorted(heavy), dtype=np.int64)
    heavy_bits = np.array([heavy[t] for t in heavy_tids], dtype=np.int64)

    def run(batches):
        return salt_runs(batches, heavy_tids, heavy_bits, ord_bits)

    cols = [
        "term_id", "ford", "n", "min_ord", "ord_bytes", "tf_bytes",
        "dl_bytes", "pos_lens", "pos_data", "wflags",
    ]
    return staged.select(*cols).mapInArrow(run, SALTED_SCHEMA)


def _packed_stream(tbl, colname: str) -> bytes:
    """Ordered concatenation of a (taken) table's binary column — the data
    buffers ARE the concatenation after ``take`` rebuilds the arrays."""
    parts = []
    for arr in tbl[colname].chunks:
        bufs = arr.buffers()
        off = np.frombuffer(bufs[1], dtype=np.int32)[
            arr.offset : arr.offset + len(arr) + 1
        ]
        parts.append(bytes(memoryview(bufs[2])[int(off[0]) : int(off[-1])]))
    return b"".join(parts)


def make_merge_builder(
    n_docs: float,
    avgdl: np.ndarray,
    k1: float,
    b: float,
    block_size: int,
    ord_shift: int,
    slice_rows: int = 1 << 20,
):
    """Partition-at-a-time MERGE of packed runs into posting blocks.

    The shuffle moves one row per (term, salt, split-segment) — binary
    blobs, not per-posting cells: shuffling one row per posting measured
    500+ s of executor time for 73M postings at 16 cores (3x the 4-core
    cost — memory-bandwidth contention in the row/Arrow re-encode), which
    capped build scaling at ~0.45 efficiency.  Because each split covers a
    contiguous disjoint ord range, ordering a term's runs by min_ord and
    concatenating their streams yields the globally ord-sorted posting
    list — a k-way-merge-free variant of Lucene's segment merge.  Row
    ordering is one numpy lexsort over ~|runs| elements; posting streams
    are reassembled with frombuffer over the taken table's own buffers."""

    def run(batches):
        import pyarrow as pa

        batch_list = [b for b in batches if b.num_rows]
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        order = np.lexsort(
            (
                tbl["min_ord"].to_numpy(),
                tbl["salt"].to_numpy(),
                tbl["term_id"].to_numpy(),
            )
        )
        tbl = tbl.take(pa.array(order))
        ns = tbl["n"].to_numpy().astype(np.int64)
        wf = tbl["wflags"].to_numpy().astype(np.int64)
        pos_lens = _width_decode(
            _packed_stream(tbl, "pos_lens"), ns, (wf & WIDE_PL) != 0
        )
        row_starts = np.zeros(len(ns), dtype=np.int64)
        np.cumsum(ns[:-1], out=row_starts[1:])
        # rel-u32 ords -> absolute: one repeat of the per-run min_ord;
        # group KEYS stay row-level (see _build_blocks_batch) — the old
        # per-posting term_id/salt/ford repeats were pure memory traffic
        rel = np.frombuffer(_packed_stream(tbl, "ord_bytes"), dtype="<u4")
        cols = {
            "row_tid": tbl["term_id"].to_numpy(),
            "row_salt": tbl["salt"].to_numpy(),
            "row_ford": tbl["ford"].to_numpy(),
            "row_ns": ns,
            "row_starts": row_starts,
            "ord": rel
            + np.repeat(tbl["min_ord"].to_numpy().astype(np.int64), ns),
            "tf": _width_decode(
                _packed_stream(tbl, "tf_bytes"), ns, (wf & WIDE_TF) != 0
            ),
            # u8 grid codes -> float LOWER-bound dls (feeds max_norm only;
            # exact query-time dls come from the DOCMAP sidecar)
            "dl": np.take(
                _DL_LUT,
                np.frombuffer(_packed_stream(tbl, "dl_bytes"), dtype=np.uint8),
            ),
            "pos_off": np.concatenate([[0], np.cumsum(pos_lens)]).astype(
                np.int64
            ),
            "pos_data": _packed_stream(tbl, "pos_data"),
        }
        del tbl
        n = len(cols["ord"])
        if n != int(ns.sum()) or len(cols["tf"]) != n:
            raise AssertionError("packed run streams inconsistent with n")
        rt, rs = cols["row_tid"], cols["row_salt"]
        rchange = np.empty(len(rt), dtype=bool)
        rchange[0] = True
        rchange[1:] = (rt[1:] != rt[:-1]) | (rs[1:] != rs[:-1])
        group_starts = row_starts[rchange]
        lo = 0
        while lo < n:
            hi_target = lo + slice_rows
            if hi_target >= n:
                hi = n
            else:
                # first group start at/after the target; a group larger
                # than slice_rows is emitted whole (groups never split)
                i = int(np.searchsorted(group_starts, hi_target))
                hi = int(group_starts[i]) if i < len(group_starts) else n
            yield _build_blocks_batch(
                _slice_columns(cols, lo, hi),
                n_docs, avgdl, k1, b, block_size, ord_shift,
            )
            lo = hi

    return run


#: direct-write stats: one row per (task, bucket) — the ONLY rows the
#: merge job returns to the JVM (the block payloads go straight from the
#: Python worker to parquet, see make_direct_block_writer)
WRITER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("blocks", T.LongType(), False),
        T.StructField("postings", T.LongType(), False),
        # the attempt that SUCCEEDED — reconciliation keeps exactly this
        # attempt's files (keep-newest is wrong under speculation: the
        # killed copy can have the higher attempt id)
        T.StructField("att", T.LongType(), False),
    ]
)

#: buffered bytes per bucket before flushing a parquet row group in the
#: direct writer — large enough for healthy row groups, small enough that
#: 8 buckets of buffer stay well under the task's input footprint
_DIRECT_WRITE_FLUSH_BYTES = 32 << 20


def make_direct_block_writer(builder, out_dir: str, n_buckets: int):
    """Wrap the merge builder so each TASK writes its own bucket=*/part
    parquet files directly (pyarrow C++ encode) and returns only tiny
    per-bucket stat rows to the JVM.

    Why: the previous ``df.write.partitionBy("bucket")`` path moved every
    block payload Python->JVM over Arrow IPC, converted it to UnsafeRows,
    ran the planned-write SORT by bucket, and re-encoded parquet in the
    JVM — measured ~14 s at BOTH 4 and 16 cores on a 617 MB postings
    table (4->16 efficiency 0.29 for the write step vs 0.60 for a flat
    write), i.e. the single non-scaling component left in the build.
    Writing from the worker that already holds the Arrow batches is the
    Lucene shape (the merge thread writes the segment) and removes all
    four costs; on a real cluster the same tasks write to the shared
    filesystem/object store via pyarrow.fs.

    Crash/retry safety: files are written to ``<name>.inprogress`` and
    os.rename'd (atomic on POSIX) so a killed task never leaves a
    half-written parquet; names embed the partition id and task attempt
    (``part-<pid>-<attempt>.parquet``), a retry first removes its
    predecessor's files, and the driver reconciles leftovers after the
    job (_reconcile_direct_write).  Stat rows carry the attempt id, so
    the driver deletes every file NOT written by the attempt Spark
    reported success for — under speculative execution both attempts can
    commit files (the killed copy may rename AFTER emitting nothing),
    and keeping both would duplicate posting blocks, silently doubling
    tf/df at decode.  The committed (pid -> attempt) map is persisted in
    the manifest so readers re-reconcile at open, closing the window
    where a zombie attempt renames its file after the post-job sweep."""

    def run(batches):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        att = tc.taskAttemptId() if tc is not None else 0
        prefix = f"part-{pid:05d}-"
        schema = _arrow_blocks_schema()
        # retry hygiene: drop .inprogress leftovers of previous attempts
        # of THIS partition.  Committed finals are deliberately left
        # alone: attempt-suffixed names never collide, and the post-job
        # reconcile (attempts map) keeps exactly the succeeded attempt's
        # file — deleting finals here would let a speculative twin whose
        # LAUNCH raced the original's success erase a committed file the
        # stats collect already counted (silent missing slice).
        for b in range(n_buckets):
            bdir = os.path.join(out_dir, f"bucket={b}")
            if os.path.isdir(bdir):
                for fn in os.listdir(bdir):
                    if fn.startswith(prefix) and fn.endswith(".inprogress"):
                        try:
                            os.remove(os.path.join(bdir, fn))
                        except OSError:
                            pass

        writers: dict[int, tuple] = {}  # bucket -> (writer, tmp, final)
        buf: dict[int, list] = {}
        buf_bytes: dict[int, int] = {}
        blocks_n: dict[int, int] = {}
        postings_n: dict[int, int] = {}

        def flush(b: int) -> None:
            batches_b = buf.pop(b, [])
            buf_bytes[b] = 0
            if not batches_b:
                return
            if b not in writers:
                bdir = os.path.join(out_dir, f"bucket={b}")
                os.makedirs(bdir, exist_ok=True)
                final = os.path.join(bdir, f"{prefix}{att}.parquet")
                tmp = final + ".inprogress"
                writers[b] = (
                    pq.ParquetWriter(tmp, schema, compression="snappy"),
                    tmp,
                    final,
                )
            writers[b][0].write_table(pa.Table.from_batches(batches_b))

        import time as _time

        trace = os.environ.get("SPARK_GRAFT_WRITER_TRACE") == "1"
        t_kernel = t_split = t_write = 0.0
        t0 = _time.perf_counter()
        it = builder(batches)
        while True:
            try:
                rb = next(it)
            except StopIteration:
                break
            t1 = _time.perf_counter()
            t_kernel += t1 - t0
            if rb.num_rows == 0:
                t0 = _time.perf_counter()
                continue
            tid = rb.column(0).to_numpy()
            nvals = rb.column(4).to_numpy()
            bk = tid % n_buckets
            for b in np.unique(bk):
                b = int(b)
                idx = np.flatnonzero(bk == b)
                sub = rb.take(pa.array(idx))
                blocks_n[b] = blocks_n.get(b, 0) + len(idx)
                postings_n[b] = postings_n.get(b, 0) + int(nvals[idx].sum())
                buf.setdefault(b, []).append(sub)
                buf_bytes[b] = buf_bytes.get(b, 0) + sub.nbytes
                t2 = _time.perf_counter()
                t_split += t2 - t1
                if buf_bytes[b] >= _DIRECT_WRITE_FLUSH_BYTES:
                    flush(b)
                    t1 = _time.perf_counter()
                    t_write += t1 - t2
                else:
                    t1 = t2
            t0 = _time.perf_counter()
        t1 = _time.perf_counter()
        for b in list(buf):
            flush(b)
        for b, (w, tmp, final) in writers.items():
            w.close()
            os.rename(tmp, final)
        t_write += _time.perf_counter() - t1
        if trace:
            print(
                f"WRITER_TRACE pid={pid} kernel={t_kernel:.2f} "
                f"split={t_split:.2f} write={t_write:.2f}",
                flush=True,
            )
        if blocks_n:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pid] * len(blocks_n), pa.int32()),
                    pa.array(sorted(blocks_n), pa.int32()),
                    pa.array(
                        [blocks_n[b] for b in sorted(blocks_n)], pa.int64()
                    ),
                    pa.array(
                        [postings_n[b] for b in sorted(blocks_n)], pa.int64()
                    ),
                    pa.array([att] * len(blocks_n), pa.int64()),
                ],
                names=["pid", "bucket", "blocks", "postings", "att"],
            )

    return run


def _reconcile_dir(bdir, expected: dict[int, int]) -> None:
    """Per-directory cleanup for direct task writes: remove orphaned
    ``.inprogress`` files (killed attempts) and every direct-writer file
    of an attempt that did not commit.

    ``expected`` is the (pid -> attempt id) map assembled from the stat
    rows of the attempts Spark reported SUCCESS for: exactly those
    attempts' files survive.  Any other attempt's file (a plain retry's
    predecessor, a speculative copy that committed before being killed,
    or a zombie that renamed late) and any pid with no committed stats
    row is removed."""
    for f in bdir.glob("*.inprogress"):
        f.unlink(missing_ok=True)
    for f in bdir.glob("part-*.parquet"):
        key = _direct_file_key(f)
        if key is not None and expected.get(key[0]) != key[1]:
            f.unlink(missing_ok=True)


def _direct_file_key(f) -> tuple[int, int] | None:
    """(pid, attempt) from a DIRECT-writer file name, or None for any
    other file.  Direct writers name exactly ``part-<pid>-<attempt>
    .parquet``; anything else (a JVM-committer ``part-00000-<uuid>-c000
    .snappy.parquet``, a driver-side ``part-00000.parquet``) is not ours
    to reconcile — parsing it as ours would either crash reader open
    (ValueError on the uuid) or delete live data ("unknown attempt")."""
    parts = f.stem.split("-")
    if len(parts) != 3:
        return None
    try:
        return int(parts[1]), int(parts[2])
    except ValueError:
        return None


def _reconcile_direct_write(out_dir, expected: dict[int, int]) -> None:
    """Post-job cleanup for the bucketed direct writer; runs on the
    driver after the stats collect() proves the job done (and again at
    reader open, from the manifest-persisted map — see
    reconcile_from_manifest)."""
    from pathlib import Path

    for bdir in Path(out_dir).glob("bucket=*"):
        _reconcile_dir(bdir, expected)


def attempts_map(stats) -> dict[str, int]:
    """(pid -> succeeded attempt id) from collected direct-writer stat
    rows, string-keyed for JSON manifest storage."""
    return {str(int(r["pid"])): int(r["att"]) for r in stats}


def _int_keys(m: dict) -> dict[int, int]:
    return {int(k): int(v) for k, v in m.items()}


def reconcile_from_manifest(cat) -> None:
    """Re-run direct-write reconciliation from the manifest-persisted
    attempt maps — called at IndexReader open.  Closes the zombie window:
    a speculative attempt killed mid-task can os.rename its completed
    file AFTER the post-job sweep ran; any reader opened later (same
    Spark app — executors of a dead app die with it, so crash-restart
    cannot produce new zombies) prunes it here before the first scan.
    Postings written by the JVM committer (``bucket_resume`` builds)
    persist no map: the committer already handles speculation."""
    post = cat.get_meta("postings_attempts")
    if post is not None:
        _reconcile_direct_write(cat.path("postings"), _int_keys(post))
    _reprune_staged(cat)


def _reprune_staged(cat) -> None:
    """Prune staging and docs (both written by the same tokenize tasks, the
    docs tee) against the committed staging attempts map.  build_index
    also calls this right before each overlapped consumer (docmap,
    dictionary, postings) lists those directories: a speculative tokenize
    attempt killed mid-task can os.rename its final AFTER the post-job
    sweep.  JVM-written docs generations (compaction) are untouched:
    _direct_file_key rejects committer file names."""
    from pathlib import Path

    stg = _int_keys(cat.manifest()["stages"]["staging"]["metrics"]["attempts"])
    for table in (IndexCatalog.STAGING, IndexCatalog.DOCS):
        _reconcile_dir(Path(cat.path(table)), stg)


#: direct staging-write stats: per-(task, field) cf sums over kind-0 rows
#: — the ONLY rows the staging job returns to the JVM (packed run payloads
#: go straight from the tokenizer task to parquet)
STAGING_STATS_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("ford", T.IntegerType(), False),
        T.StructField("sum_cf", T.LongType(), False),
        T.StructField("att", T.LongType(), False),  # see WRITER_STATS_SCHEMA
    ]
)


def _arrow_staging_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("kind", pa.int8()),
            ("term_id", pa.int64()),
            ("term", pa.string()),
            ("ford", pa.int32()),
            ("n", pa.int32()),
            ("cf", pa.int64()),
            ("min_ord", pa.int64()),
            ("ord_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("dl_bytes", pa.binary()),
            ("pos_lens", pa.binary()),
            ("pos_data", pa.binary()),
            ("wflags", pa.int8()),
            ("bucket", pa.int32()),
        ]
    )


def make_docs_tee(
    docs_out: str, docs_cols: list[str], offsets: list[int]
):
    """Wrap the tokenize pass's INPUT batch stream so the same task also
    writes its slice of the DOCS table (meta columns + dense ``ord``) —
    folding what used to be a second full corpus scan (the docs stage
    re-read and re-decompressed every content row just to ship its sha)
    into the one tokenize scan.  doc_id/content_sha are computed JVM-side
    in the scan (with_doc_ids) and ride the Arrow feed as narrow columns.

    Same crash/retry contract as make_direct_staging_writer: attempt-
    suffixed names, ``.inprogress`` + atomic rename only on clean end of
    stream (a task failure — including the partition-count drift guard in
    the tokenizer — leaves only an ignored temp file), predecessor
    ``.inprogress`` cleanup on retry, `_reconcile_dir` on the driver."""

    def tee(batches):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        att = tc.taskAttemptId() if tc is not None else 0
        prefix = f"part-{pid:05d}-"
        os.makedirs(docs_out, exist_ok=True)
        # .inprogress leftovers only — committed finals are reconcile's
        # to resolve (see make_direct_block_writer's retry-hygiene note)
        for fn in os.listdir(docs_out):
            if fn.startswith(prefix) and fn.endswith(".inprogress"):
                try:
                    os.remove(os.path.join(docs_out, fn))
                except OSError:
                    pass
        final = os.path.join(docs_out, f"{prefix}{att}.parquet")
        tmp = final + ".inprogress"
        writer = None
        start = offsets[pid] if pid < len(offsets) else None
        nxt = start or 0
        # buffer input batches (~10k rows each) into large row groups —
        # one write_table per Arrow batch produced many tiny row groups,
        # slowing every downstream docmap/docs_view scan (round-4 review)
        pend: list = []
        pend_bytes = 0
        FLUSH_BYTES = 64 << 20

        def _flush():
            nonlocal writer, pend, pend_bytes
            if not pend:
                return
            tbl = pa.Table.from_batches(pend)
            if writer is None:
                writer = pq.ParquetWriter(tmp, tbl.schema, compression="snappy")
            writer.write_table(tbl)
            pend, pend_bytes = [], 0

        try:
            for rb in batches:
                if rb.num_rows:
                    # drift on an out-of-range pid fails in the tokenizer;
                    # writing nothing here keeps the temp file unrenamed
                    names = rb.schema.names
                    cols = [rb.column(names.index(c)) for c in docs_cols]
                    ords = pa.array(
                        np.arange(nxt, nxt + rb.num_rows, dtype=np.int64),
                        pa.int64(),
                    )
                    nxt += rb.num_rows
                    out = pa.RecordBatch.from_arrays(
                        cols + [ords], names=docs_cols + ["ord"]
                    )
                    pend.append(out)
                    pend_bytes += out.nbytes
                    if pend_bytes >= FLUSH_BYTES:
                        _flush()
                yield rb
            _flush()
            if writer is not None:
                writer.close()
                writer = None
                os.rename(tmp, final)
        finally:
            if writer is not None:  # unwound mid-stream: no rename
                writer.close()

    return tee


def make_direct_staging_writer(inner, out_dir: str, n_buckets: int):
    """Wrap the tokenizer's packed-run generator so each TASK writes its
    own staging parquet file directly (pyarrow encode, with the ``bucket``
    routing column appended numpy-side) and returns only per-(task, field)
    cf-sum stat rows — the same direct-write shape as
    make_direct_block_writer and for the same reason: the flat
    ``cat.write(staged)`` path re-encoded ~GBs of packed binary payloads
    through Arrow IPC -> UnsafeRow -> the JVM parquet writer (measured
    4->16 efficiency 0.60 for an isolated flat write), and the
    per-bucket Observation sums ran in the same pass.  Crash/retry safety
    is identical: ``.inprogress`` + atomic rename, attempt-suffixed
    names, predecessor .inprogress cleanup on retry, `_reconcile_dir` on the driver.

    Each yielded pack (one per (split, field) runs/sentinel group) becomes
    one parquet row group — large groups by construction, no extra
    buffering needed."""

    def run(batches):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        att = tc.taskAttemptId() if tc is not None else 0
        prefix = f"part-{pid:05d}-"
        os.makedirs(out_dir, exist_ok=True)
        # .inprogress leftovers only — committed finals are reconcile's
        # to resolve (see make_direct_block_writer's retry-hygiene note)
        for fn in os.listdir(out_dir):
            if fn.startswith(prefix) and fn.endswith(".inprogress"):
                try:
                    os.remove(os.path.join(out_dir, fn))
                except OSError:
                    pass
        import time as _time

        trace = os.environ.get("SPARK_GRAFT_WRITER_TRACE") == "1"
        t_kernel = t_write = 0.0
        schema = _arrow_staging_schema()
        final = os.path.join(out_dir, f"{prefix}{att}.parquet")
        tmp = final + ".inprogress"
        writer = None
        sums: dict[int, int] = {}
        t0 = _time.perf_counter()
        for rb in inner(batches):
            t_kernel += _time.perf_counter() - t0
            if rb.num_rows == 0:
                t0 = _time.perf_counter()
                continue
            tid = rb.column(1).to_numpy()
            bucket = (tid % n_buckets).astype(np.int32)
            out_rb = pa.RecordBatch.from_arrays(
                list(rb.columns) + [pa.array(bucket, pa.int32())],
                schema=schema,
            )
            kind = rb.column(0).to_numpy()
            k0 = kind == 0
            if k0.any():
                fords = rb.column(3).to_numpy()[k0]
                cfs = rb.column(5).to_numpy()[k0]
                for f in np.unique(fords):
                    f = int(f)
                    sums[f] = sums.get(f, 0) + int(cfs[fords == f].sum())
            if writer is None:
                writer = pq.ParquetWriter(tmp, schema, compression="snappy")
            t1 = _time.perf_counter()
            writer.write_table(pa.Table.from_batches([out_rb]))
            t0 = _time.perf_counter()
            t_write += t0 - t1
        t1 = _time.perf_counter()
        if writer is not None:
            writer.close()
            os.rename(tmp, final)
        t_write += _time.perf_counter() - t1
        if trace:
            print(
                f"STAGING_TRACE pid={pid} kernel={t_kernel:.2f} "
                f"write={t_write:.2f}",
                flush=True,
            )
        if not sums:
            # ALWAYS report this attempt, even with no kind-0 rows (empty
            # trailing partition, or all-empty content that still wrote a
            # docs-tee file): reconciliation deletes files of any pid
            # absent from the attempts map, so a silent task here would
            # get its committed docs slice swept.  ford=-1 is ignored by
            # the sum_dl fold.
            sums[-1] = 0
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid] * len(sums), pa.int32()),
                pa.array(sorted(sums), pa.int32()),
                pa.array([sums[f] for f in sorted(sums)], pa.int64()),
                pa.array([att] * len(sums), pa.int64()),
            ],
            names=["pid", "ford", "sum_cf", "att"],
        )

    return run


#: on-disk packed-run bytes per merge task.  The merge builder materializes
#: its whole shuffle partition (Table.from_batches + take), so per-task
#: memory must be bounded by DATA-scaled partitioning, not defaultParallelism
#: (which is constant as the corpus grows).  Parquet-compressed runs expand
#: ~2-4x in memory; 256 MB on-disk keeps tasks comfortably inside a normal
#: executor heap share while staying coarse enough to amortize task overhead.
_MERGE_TARGET_BYTES = 256 << 20


def _merge_partitions(
    spark: SparkSession, cat: IndexCatalog, config: EngineConfig,
    frac: float = 1.0,
) -> int:
    """Partition count for the (term_id, salt) merge shuffle: scaled from
    committed staging bytes (``frac`` = share of staging this job reads,
    e.g. 1/n_term_buckets for a single-bucket resume), floored at 2x cores
    so small builds still use the whole cluster."""
    staging_bytes = (
        cat.manifest()["stages"]
        .get("staging", {})
        .get("metrics", {})
        .get("bytes")
    ) or cat.table_bytes(IndexCatalog.STAGING)
    by_bytes = -(-int(staging_bytes * frac) // _MERGE_TARGET_BYTES)
    return max(2 * spark.sparkContext.defaultParallelism, 16, by_bytes)


def _build_postings_single_job(
    spark: SparkSession, cat: IndexCatalog, config: EngineConfig, builder,
    ord_bits: int, dict_ready=None,
) -> None:
    """All buckets in ONE Spark job: packed-run scan -> heavy-term salt
    split -> one wide (term_id, salt) shuffle of packed RUNS -> per-
    partition merge + block encode -> bucket-partitioned write.  Full
    cluster parallelism throughout — no per-bucket job tails (the round-1
    loop's bucket stage scaled 1.6x/4 because each of 8 jobs serialized
    its own shuffle+sort+write phases)."""
    staged_all = spark.read.parquet(cat.path(IndexCatalog.STAGING)).where(
        F.col("kind") == 0
    )
    # heavy-term salt map from STAGING, not the dictionary table: df is
    # sum(n) per term_id in both (the dictionary aggregates this same
    # column), and deriving it here lets the dictionary stage's Spark
    # action overlap this whole job (see build_index).  One narrow
    # numeric agg over (term_id, n) — term strings pruned at the scan.
    heavy = _heavy_salt_map(
        staged_all.groupBy("term_id").agg(F.sum("n").alias("df")), config
    )
    salted = _salt_packed_runs(staged_all, heavy, ord_bits)
    n_parts = _merge_partitions(spark, cat, config)
    nb = config.n_term_buckets
    # fresh output dir: the job is all-or-nothing at the manifest level
    # (commit_bucket below), so a leftover partial tree is always garbage
    import shutil as _shutil

    post_dir = cat.path(IndexCatalog.POSTINGS)
    _shutil.rmtree(post_dir, ignore_errors=True)
    # NO sortWithinPartitions: the merge builder orders RUNS columnar
    # inside the worker (numpy lexsort over ~|runs| keys) — see
    # make_merge_builder's docstring for the measured per-posting-row
    # cost.  The builder is wrapped in the DIRECT writer: each task
    # parquet-encodes its own bucket=*/part files and only (task, bucket)
    # stat rows come back — replacing df.write.partitionBy("bucket"),
    # whose JVM re-encode + planned-write sort was ~14 s at BOTH 4 and 16
    # cores (the last non-scaling build component), and replacing the
    # Observation (stats now ride the same stat rows).
    writer = make_direct_block_writer(builder, post_dir, nb)
    stats = (
        salted.repartition(n_parts, "term_id", "salt")
        .mapInArrow(writer, WRITER_STATS_SCHEMA)
        .collect()
    )
    atts = attempts_map(stats)
    _reconcile_direct_write(post_dir, _int_keys(atts))
    # persisted so every reader open re-prunes non-committed attempt
    # files (zombie speculative renames after this sweep)
    cat.set_meta("postings_attempts", atts)
    blocks_by_bucket: dict[int, int] = {b: 0 for b in range(nb)}
    postings_by_bucket: dict[int, int] = {b: 0 for b in range(nb)}
    for r in stats:
        blocks_by_bucket[int(r["bucket"])] += int(r["blocks"])
        postings_by_bucket[int(r["bucket"])] += int(r["postings"])
    if dict_ready is not None:
        # join + commit the overlapped dictionary stage before reading its
        # terms_per_bucket metrics (it finishes long before the merge; a
        # dictionary failure aborts here, before any bucket commits)
        dict_ready()
    terms_per_bucket = (
        cat.manifest()["stages"]
        .get("dictionary", {})
        .get("metrics", {})
        .get("terms_per_bucket", {})
    )
    for bucket in range(nb):
        cat.commit_bucket(
            bucket,
            {
                "blocks": blocks_by_bucket[bucket],
                "postings": postings_by_bucket[bucket],
                "terms": int(terms_per_bucket.get(str(bucket), 0)),
                "bytes": cat.table_bytes(
                    f"{IndexCatalog.POSTINGS}/bucket={bucket}"
                ),
            },
        )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    config: EngineConfig | None = None,
    resume: bool = True,
) -> IndexCatalog:
    """Full index build with per-bucket checkpoint/resume."""
    config = config or EngineConfig()
    cat = IndexCatalog(out_dir)
    # an index left by another on-disk format is never resumed (its
    # stages may lack keys this code requires) — wipe and rebuild instead
    stale = (
        cat.manifest().get("stages")
        and cat.get_meta("format") != INDEX_FORMAT_VERSION
    )
    if not resume or stale:
        import shutil

        shutil.rmtree(cat.root, ignore_errors=True)
        cat = IndexCatalog(out_dir)
    cat.set_meta("format", INDEX_FORMAT_VERSION)

    corpus_with_ids = with_doc_ids(corpus) if "doc_id" not in corpus.columns else corpus

    # -- stage 0: dense-ordinal layout (one narrow count job) ---------------
    # offsets are committed to the manifest so a killed/resumed build
    # re-attaches IDENTICAL ords (and a changed input partitioning between
    # runs is detected by the tokenizer's per-partition count guards)
    if not cat.stage_done("ords"):
        offsets, n_total = partition_offsets(corpus_with_ids)
        cat.commit_stage("ords", {"offsets": offsets, "n_docs": n_total})
    ords_m = cat.manifest()["stages"]["ords"]["metrics"]
    offsets = [int(x) for x in ords_m["offsets"]]
    n_docs = int(ords_m["n_docs"])
    band_bits = max(config.n_eval_bands - 1, 0).bit_length()
    ord_shift = ord_shift_of(n_docs, band_bits)
    # band layout + ordinal width are INDEX properties (blocks never cross
    # band boundaries; bands are ord ranges) — readers must use these, not
    # their own config's derivation
    cat.set_meta("band_bits", band_bits)
    cat.set_meta("ord_bits", ord_bits_of(n_docs))

    meta_cols = [
        c
        for c in ["doc_id", "repo", "path", "commit", "lang", "content_sha"]
        + [f for f in config.int_fields if f in corpus_with_ids.columns]
        if c in corpus_with_ids.columns
    ]
    field_names = [f.name for f in config.fields]

    # -- stages 1 + 2: staged packed posting runs (per-split local indexes)
    # AND the docs table, from ONE corpus scan: tokenize tasks tee the DOCS
    # table out of the same input batches (make_docs_tee).  A separate docs
    # scan would re-read and re-decompress every content row just for the
    # docs metadata + sha, contending for the same DRAM/page-cache
    # bandwidth (both scans measured ~40 s at 32c/250k).  sha256/doc_id
    # still compute JVM-side inside the one scan (with_doc_ids columns ride
    # the Arrow feed).  Per-partition count guards in the tokenizer keep
    # the ord-alignment contract.  Both stages commit in ONE manifest
    # write, so a crash anywhere re-runs both; a manifest holding only one
    # of them (hand-edited or rewound) re-runs both as well.
    if not (cat.stage_done("staging") and cat.stage_done("docs")):
        # UNPARTITIONED direct write with ``bucket`` as an ordinary column:
        # every hot-path consumer (dictionary agg, docmap agg, single-job
        # postings build) full-scans staging, so hive-partitioning by
        # bucket bought nothing there while costing a sort-based
        # dynamic-partition write (measured 45.6 s vs 6.2 s plain at 25k
        # docs).  The rare ``bucket_resume`` path filters on the bucket
        # COLUMN instead (row-group stats).  Tasks write their own parquet
        # (make_direct_staging_writer) and return per-field cf sums —
        # sum(cf) over a field's kind-0 rows == sum of per-doc field
        # lengths, so avgdl needs no second pass over staging at all.
        import shutil as _shutil
        import time as _time
        from pathlib import Path as _Path

        t0 = _time.time()
        stg_dir = cat.path(IndexCatalog.STAGING)
        docs_dir = cat.path(IndexCatalog.DOCS)
        _shutil.rmtree(stg_dir, ignore_errors=True)
        _shutil.rmtree(docs_dir, ignore_errors=True)
        stats = tokenize_corpus(
            corpus_with_ids, config, offsets,
            expected=expected_counts(offsets, n_docs),
            direct_out=stg_dir,
            docs_out=docs_dir,
            docs_cols=meta_cols,
        ).collect()
        atts = attempts_map(stats)
        for d in (stg_dir, docs_dir):
            _reconcile_dir(_Path(d), _int_keys(atts))
        by_ford: dict[int, int] = {}
        for r in stats:
            by_ford[int(r["ford"])] = by_ford.get(int(r["ford"]), 0) + int(
                r["sum_cf"]
            )
        cat.commit_stages(
            {
                "staging": {
                    "bytes": cat.table_bytes(IndexCatalog.STAGING),
                    "sum_dl": {
                        fn: by_ford.get(i, 0)
                        for i, fn in enumerate(field_names)
                    },
                    # reconcile_from_manifest re-prunes from this
                    "attempts": atts,
                    "elapsed_sec": round(_time.time() - t0, 3),
                },
                "docs": {"n_docs": n_docs, "direct": True},
            }
        )

    # -- stage 3: per-field doc stats (N, avgdl) — tiny driver-built table --
    # 4 rows: written directly with pyarrow (a Spark job for this pays the
    # python-RDD createDataFrame warmup for nothing; Spark reads it fine)
    if not cat.stage_done("doc_stats"):
        sum_dl = cat.manifest()["stages"]["staging"]["metrics"]["sum_dl"]
        write_doc_stats(cat, field_names, sum_dl, n_docs)
        cat.commit_stage("doc_stats")

    stats_rows = spark.read.parquet(cat.path(IndexCatalog.DOC_STATS)).collect()
    avgdl = {r["field"]: float(r["avgdl"]) for r in stats_rows}
    # pin the avgdl the postings blocks' max_norm is ENCODED with: appends
    # keep encoding with this constant while the live avgdl drifts, and the
    # evaluator applies a per-field safety factor max(1, live/encoded) to
    # its block-max bounds so pruning stays exact under drift
    if cat.get_meta("encode_avgdl") is None:
        cat.set_meta("encode_avgdl", avgdl)

    # -- stage 3b: DOCMAP — per-band ord -> doc_id arrays + dl sidecars ----
    # ford = -1 rows carry the band's packed int64 doc_ids (ord order);
    # ford = k rows carry the band's packed int32 per-doc lengths of field
    # k (dense by ord, 0 where the doc has no tokens in the field) — the
    # Lucene norms-file analogue, ONE int per doc-field instead of one
    # varbyte per POSTING in the blocks.  Rows are chunked so no parquet
    # cell or eval allocation exceeds ~2 MB even for giant bands.
    def _docmap_action():
        _reprune_staged(cat)
        docs_df = spark.read.parquet(cat.path(IndexCatalog.DOCS)).select(
            "ord", "doc_id"
        )
        sent = (
            spark.read.parquet(cat.path(IndexCatalog.STAGING))
            .where(F.col("kind") == 1)
            .select("ford", "ord_bytes", "dl_bytes")
        )
        cat.write(
            docmap_rows(docs_df, sent, int(ord_shift), int(n_docs)),
            IndexCatalog.DOCMAP,
        )

    # -- stage 4: dictionary (df/cf), ONE job for every bucket --------------
    # numeric groupBy over PACKED runs (one row per (term, split) — the agg
    # input is ~|vocab x splits| rows, not one per posting); the term
    # string (exactly once per run) is recovered with max() — a declarative
    # agg, so the whole stage codegens (first() would force
    # ObjectHashAggregate)
    def _dictionary_action():
        _reprune_staged(cat)
        staged = spark.read.parquet(cat.path(IndexCatalog.STAGING)).where(
            F.col("kind") == 0
        )
        dictionary = (
            staged.groupBy("bucket", "term_id")
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
                    F.array(*[F.lit(fn) for fn in field_names]), F.col("ford") + 1
                ),
            )
        )
        # align writers to buckets: without this every reducer task opens a
        # file per bucket (tasks × buckets small files — measurably slower
        # than the extra narrow exchange)
        dictionary = dictionary.repartition(2 * config.n_term_buckets, "bucket")
        # 64-bit term_id collision detection, ~free: min/max over the
        # (mostly-null, once-per-chunk) term strings disagree only when two
        # DISTINCT terms share a term_id — which would silently merge their
        # postings (wrong df/idf, cross-matched docs).  Declarative aggs
        # keep the stage in whole-stage codegen.
        coll_obs = Observation("tid_collisions")
        # per-bucket term counts ride the same observation (conditional
        # sums) — the postings stage's lineage metrics read them from the
        # manifest instead of a separate dictionary groupBy job
        dictionary = dictionary.observe(
            coll_obs,
            F.sum(
                F.when(F.col("term_lo") != F.col("term"), 1).otherwise(0)
            ).alias("n"),
            *[
                F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(
                    f"t{b}"
                )
                for b in range(config.n_term_buckets)
            ],
        )
        cat.write(
            dictionary.drop("term_lo"), IndexCatalog.DICTIONARY,
            partition_by=["bucket"],
        )
        m = coll_obs.get
        n_coll = int(m["n"] or 0)
        if n_coll:
            raise RuntimeError(
                f"{n_coll} term_id collision(s) detected in the dictionary — "
                "two distinct terms hash to one 64-bit id; rebuild with a "
                "128-bit term id (see term_id_of)"
            )
        return {
            "term_id_collisions": 0,
            "terms_per_bucket": {
                str(b): int(m[f"t{b}"] or 0)
                for b in range(config.n_term_buckets)
            },
        }

    # docmap AND dictionary Spark ACTIONS both overlap the postings stage
    # below: both read only committed staging (+docs), and the postings
    # job's only two dictionary inputs are (a) the heavy-term salt map —
    # recomputed equivalently from staging (df == sum(n) per term_id, the
    # exact expression the dictionary aggregates) by the single-job path —
    # and (b) terms_per_bucket, which is commit-metric-only and is joined
    # via `dict_ready` right before the per-bucket commits (the ~11 s
    # dictionary wall at 16c otherwise serializes before the merge).
    # COMMITS stay on this thread (manifest read-modify-write is not
    # thread-safe): dictionary commits inside dict_ready(), docmap after
    # the postings stage; a crash mid-postings re-runs them on resume.
    # Trade-off: a term_id-collision error from the dictionary stage now
    # surfaces only at dict_ready() — after merge work has run — but the
    # build still fails loudly before any bucket commits.
    bg_pool = None
    docmap_fut = None
    dict_fut = None
    bg_todo = [
        ("docmap", _docmap_action),
        ("dictionary", _dictionary_action),
    ]
    bg_todo = [(n, a) for n, a in bg_todo if not cat.stage_done(n)]
    if bg_todo:
        import time as _time
        from concurrent.futures import ThreadPoolExecutor as _TPE

        def _timed_stage(action):
            def run():
                t0 = _time.time()
                m = action() or {}
                m.setdefault("elapsed_sec", round(_time.time() - t0, 3))
                m["overlapped_postings"] = True
                return m

            return run

        bg_pool = _TPE(max_workers=len(bg_todo), thread_name_prefix="bgstage")
        futs = {n: bg_pool.submit(_timed_stage(a)) for n, a in bg_todo}
        docmap_fut = futs.get("docmap")
        dict_fut = futs.get("dictionary")

    def dict_ready() -> None:
        """Join + commit the overlapped dictionary stage (main thread only);
        no-op once committed.  Postings code calls this before anything
        that reads the dictionary table or its terms_per_bucket metrics."""
        nonlocal dict_fut
        if dict_fut is not None:
            fut, dict_fut = dict_fut, None
            try:
                m = fut.result() or {}
            except Exception as e:
                # attribute to the true stage — without this the postings
                # try-block reports a dictionary error as a postings failure
                raise RuntimeError(
                    "overlapped dictionary stage failed"
                ) from e
            cat.commit_stage("dictionary", m)

    postings_err = None
    try:
        # -- stage 5: per-bucket postings build (resumable loop) ----------------
        # one Spark job per bucket; metrics come from Observation (no read-back)
        avgdl_ord = np.array([avgdl.get(fn, 1.0) for fn in field_names], dtype=np.float64)
        ord_bits = ord_bits_of(n_docs)
        done = cat.committed_buckets()
        todo = [b for b in range(config.n_term_buckets) if b not in done]
        builder = make_merge_builder(
            float(n_docs), avgdl_ord, config.k1, config.b,
            config.block_size, ord_shift,
        )
        if todo:
            _reprune_staged(cat)
        if todo and not config.bucket_resume:
            _build_postings_single_job(
                spark, cat, config, builder, ord_bits, dict_ready=dict_ready
            )
            todo = []
        if todo:
            import threading
            from concurrent.futures import ThreadPoolExecutor

            # the per-bucket loop reads the dictionary TABLE (per-bucket
            # heavy maps) — join the overlapped stage before starting
            dict_ready()

            staged_all = spark.read.parquet(cat.path(IndexCatalog.STAGING)).where(
                F.col("kind") == 0
            )
            dict_all = cat.read(spark, IndexCatalog.DICTIONARY)
            terms_per_bucket = {
                int(r["bucket"]): int(r["n"])
                for r in dict_all.groupBy("bucket").agg(F.count("*").alias("n")).collect()
            }
            manifest_lock = threading.Lock()

            def do_bucket(bucket: int) -> None:
                # ALL-NUMERIC from here on: parquet column pruning drops the
                # term string column of staging; the field ordinal rides
                # staging and only the bounded heavy-term salt map is applied
                staged_b = staged_all.where(F.col("bucket") == bucket)
                n_terms = terms_per_bucket.get(bucket, 0)
                heavy_b = _heavy_salt_map(
                    dict_all.where(F.col("bucket") == bucket), config
                )
                salted = _salt_packed_runs(staged_b, heavy_b, ord_bits)
                # enough tasks per job that concurrent bucket jobs can fill
                # freed slots (finer granularity costs little; too-coarse tasks
                # leave cores idle during each job's tail); data-scaled so
                # per-task memory stays bounded at any corpus size
                n_parts = max(
                    spark.sparkContext.defaultParallelism, 8,
                    _merge_partitions(
                        spark, cat, config, frac=1.0 / config.n_term_buckets
                    ),
                )
                blocks = (
                    salted.repartition(n_parts, "term_id", "salt")
                    .mapInArrow(builder, BLOCKS_SCHEMA)
                )
                obs = Observation(f"bucket_{bucket}")
                blocks = blocks.observe(
                    obs, F.count(F.lit(1)).alias("blocks"), F.sum("n").alias("postings")
                )
                cat.write(blocks, IndexCatalog.POSTINGS, bucket=bucket)
                m = obs.get
                with manifest_lock:
                    cat.commit_bucket(
                        bucket,
                        {
                            "blocks": int(m["blocks"]),
                            "postings": int(m["postings"]),
                            "terms": int(n_terms),
                            "bytes": cat.table_bytes(
                                f"{IndexCatalog.POSTINGS}/bucket={bucket}"
                            ),
                        },
                    )

            # concurrent bucket jobs (the reference runs 5 categorisation
            # batches concurrently, FullReindexCategoriser.cs:87-213) — Spark's
            # scheduler interleaves them, hiding each job's serial phases;
            # commits stay per-bucket, so kill/resume granularity is unchanged
            workers = min(config.build_parallelism, len(todo))
            if workers <= 1:
                for bkt in todo:
                    do_bucket(bkt)
            else:
                with ThreadPoolExecutor(max_workers=workers) as ex:
                    futures = [ex.submit(do_bucket, bkt) for bkt in todo]
                    for f in futures:
                        f.result()
    except Exception as e:
        postings_err = e
    # join + commit any still-overlapped background stages (dictionary is
    # normally already joined via dict_ready inside the postings stage; it
    # is still pending here when postings was fully resumed-from-manifest
    # or failed early).  The postings error, if any, is the primary
    # failure; background-stage errors surface otherwise.
    bg_err = None
    for _name, _fut in (("dictionary", dict_fut), ("docmap", docmap_fut)):
        if _fut is None:
            continue
        if postings_err is not None:
            # surface the postings failure promptly: cancel not-yet-started
            # background stages and ABANDON running ones (their Spark action
            # finishes in the pool thread, result discarded, stage left
            # uncommitted — resume re-runs it) instead of blocking on them
            _fut.cancel()
            continue
        try:
            cat.commit_stage(_name, _fut.result() or {})
        except Exception as e:
            if bg_err is None:
                bg_err = e
    if bg_pool is not None:
        bg_pool.shutdown(wait=False)
    if postings_err is not None:
        raise postings_err
    if bg_err is not None:
        raise bg_err
    cat.commit_stage("complete")
    return cat
