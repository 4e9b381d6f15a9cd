"""Index catalog: manifest-committed parquet tables with per-bucket lineage.

Stands in for the Iceberg catalog named by the north rule: each table is a
parquet directory; the build commits each stage, and each term-hash bucket
of the postings, by atomically rewriting ``manifest.json`` (temp file +
rename), recording per-bucket lineage + metrics (docs/terms/bytes).  A
killed build resumes by skipping committed stages (SURVEY.md §2.2 I7).  On a real cluster the same
layout maps 1:1 onto Iceberg partitions + snapshot commits (``MERGE INTO``
for the upsert sink).
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: on-disk format of every table and manifest key under an index root.
#: Readers and appends refuse any other value (IndexCatalog.require_format);
#: build_index wipes and rebuilds an index left by another format instead
#: of resuming it.  Bump on any incompatible layout change — there are no
#: read paths for older formats.  (4 = packed staging runs + df-free
#: blocks; 5 = narrow run streams: rel-u32 ords, width-flagged u16
#: tf/pos_lens, u8 quantized dl; 6 = staging+docs committed in one write,
#: and the manifest always carries band_bits, ord_bits, encode_avgdl, the
#: staging sum_dl and attempts map; results are bucketed only)
INDEX_FORMAT_VERSION = 6


class IndexCatalog:
    DICTIONARY = "dictionary"
    POSTINGS = "postings"
    DOCS = "docs"
    #: per-band packed ord -> doc_id translation arrays (Lucene stores the
    #: external key as a stored field / docvalue next to the segment-local
    #: docID; this is the distributed analogue)
    DOCMAP = "docmap"
    DOC_STATS = "doc_stats"
    STAGING = "staging"
    #: incremental-append tables, one ``batch=<seq>`` partition per
    #: committed append (operators/index_append.py); readers union them
    #: with the main tables until a compaction folds them in
    DELTA_BLOCKS = "delta/blocks"
    DELTA_DOCS = "delta/docs"
    DELTA_DICTIONARY = "delta/dictionary"
    DELTA_DOCMAP = "delta/docmap"
    DELTA_STAGING = "delta/staging"
    #: main table -> its append-delta table (the four tables a compaction
    #: rewrites)
    DELTA_OF = {
        DICTIONARY: DELTA_DICTIONARY,
        POSTINGS: DELTA_BLOCKS,
        DOCS: DELTA_DOCS,
        DOCMAP: DELTA_DOCMAP,
    }

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.root / "manifest.json"

    # -- manifest ------------------------------------------------------------

    def manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"version": 1, "stages": {}, "buckets": {}, "metrics": {}}

    def _write_manifest(self, m: dict) -> None:
        tmp = self.manifest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(m, indent=1, sort_keys=True))
        os.replace(tmp, self.manifest_path)

    def require_format(self) -> None:
        """Refuse an index written in any other on-disk format: every read
        below assumes the keys INDEX_FORMAT_VERSION guarantees."""
        found = self.get_meta("format")
        if found != INDEX_FORMAT_VERSION:
            raise RuntimeError(
                f"index at {self.root} has on-disk format "
                f"{'<missing>' if found is None else found}, this code "
                f"reads only format {INDEX_FORMAT_VERSION} — rebuild the "
                "index (build_index)"
            )

    def stage_done(self, stage: str) -> bool:
        return stage in self.manifest()["stages"]

    def commit_stage(self, stage: str, metrics: dict | None = None) -> None:
        self.commit_stages({stage: metrics or {}})

    def commit_stages(self, stages: dict[str, dict]) -> None:
        """ONE atomic manifest write commits every given stage: a crash
        leaves all of them committed or none."""
        m = self.manifest()
        ts = time.time()
        for stage, metrics in stages.items():
            m["stages"][stage] = {"ts": ts, "metrics": metrics}
        self._write_manifest(m)

    def set_meta(self, key: str, value) -> None:
        """Record an index-layout property (e.g. band_bits) in the manifest
        so readers bind to the INDEX's layout, not their own config."""
        m = self.manifest()
        m.setdefault("meta", {})[key] = value
        self._write_manifest(m)

    def get_meta(self, key: str, default=None):
        return self.manifest().get("meta", {}).get(key, default)

    def committed_buckets(self) -> set[int]:
        return {int(b) for b in self.manifest()["buckets"]}

    def commit_bucket(self, bucket: int, metrics: dict) -> None:
        m = self.manifest()
        m["buckets"][str(bucket)] = {"ts": time.time(), **metrics}
        self._write_manifest(m)

    #: bucketed results layout: data lives under
    #: ``results_parts/v<snap>/bucket=<b>``; the manifest maps each doc_id-
    #: hash bucket to the snapshot that holds its CURRENT rows.  A save
    #: rewrites only the buckets present in the batch — the Iceberg
    #: ``MERGE INTO`` file-pruning analogue (O(batch) I/O, not O(table)).
    RESULTS_PARTS = "results_parts"

    def results_buckets(self) -> dict[int, int]:
        """{bucket: owning snapshot} for the bucketed results table
        (empty = no results saved yet)."""
        return {
            int(b): int(v)
            for b, v in self.manifest().get("results_buckets", {}).items()
        }

    def next_results_snapshot(self) -> int:
        """1 + the highest COMMITTED snapshot id: a crashed save leaves an
        orphan v-dir that the next save simply overwrites."""
        return int(self.manifest().get("results_snapshot", 0)) + 1

    def commit_results_buckets(
        self,
        updates: dict[int, int],
        n_buckets: int,
        superseded: dict[int, int] | None = None,
        keep: int = 0,
    ) -> list[tuple[int, int]]:
        """ONE atomic manifest write flips every touched bucket to its new
        snapshot — a crash before it leaves the previous per-bucket view
        fully live.

        Snapshot retention (Iceberg snapshot-expiration analogue): each
        bucket's superseded versions are appended to a per-bucket retired
        list in the SAME atomic write, and versions beyond the newest
        ``keep`` fall off and are RETURNED as GC victims for the caller to
        delete.  ``keep > 0`` lets a DataFrame obtained from ``results()``
        before a save still collect afterwards (its lazily-listed files
        survive until ``keep`` further saves touch the same bucket)."""
        m = self.manifest()
        rb = m.setdefault("results_buckets", {})
        for b, v in updates.items():
            rb[str(int(b))] = int(v)
        m.setdefault("meta", {})["n_results_buckets"] = int(n_buckets)
        if updates:
            m["results_snapshot"] = max(
                int(m.get("results_snapshot", 0)), max(updates.values())
            )
        victims: list[tuple[int, int]] = []
        retired = m.setdefault("results_retired", {})
        for b, old in (superseded or {}).items():
            lst = retired.setdefault(str(int(b)), [])
            lst.append(int(old))
            while len(lst) > keep:
                victims.append((int(b), int(lst.pop(0))))
        self._write_manifest(m)
        return victims

    # -- incremental appends (delta batches) ---------------------------------

    def deltas(self) -> dict:
        """{batch_key: {"seq": int, "n_docs": ..., ...}} — committed appends."""
        return self.manifest().get("deltas", {})

    def delta_seqs(self, manifest: dict | None = None) -> list[int]:
        """Committed batch seqs, from ``manifest`` when the caller already
        read one (a reader binds every table path to ONE manifest read)."""
        deltas = (
            self.deltas() if manifest is None else manifest.get("deltas", {})
        )
        return sorted(int(d["seq"]) for d in deltas.values())

    def next_delta_seq(self) -> int:
        """Monotone within one compaction interval; compaction renumbers
        the interval's salts into the dense compacted range and resets the
        counter atomically (clear_deltas), so a fresh seq 0 salt is again
        above every salt in the main table."""
        m = self.manifest()
        from_meta = int(m.get("meta", {}).get("next_delta_seq", 0))
        from_deltas = (
            max(
                (int(d["seq"]) for d in m.get("deltas", {}).values()),
                default=-1,
            )
            + 1
        )
        return max(from_meta, from_deltas)

    def commit_delta(self, key: str, metrics: dict) -> None:
        """ONE atomic write commits the batch AND advances both cursors
        (next_delta_seq, next_ord) — persisting either in a separate write
        would open a crash window where a committed batch's ord range / salt
        gets reused by the next append."""
        m = self.manifest()
        m.setdefault("deltas", {})[key] = {"ts": time.time(), **metrics}
        meta = m.setdefault("meta", {})
        meta["next_delta_seq"] = int(metrics["seq"]) + 1
        meta["next_ord"] = int(metrics["base_ord"]) + int(metrics["n_docs"])
        self._write_manifest(m)

    def clear_deltas(
        self,
        gen_updates: dict[str, int],
        stats_base: dict | None = None,
        compacted_salts: int | None = None,
        postings_attempts: dict | None = None,
        bucket_bytes: dict[str, int] | None = None,
    ) -> None:
        """ONE atomic manifest write: bump table generations to the
        compacted dirs, drop the delta list, AND roll the compacted
        batches' doc/dl totals into ``meta.stats_base`` (live-stats
        derivation must keep counting them after the delta list empties).
        When ``compacted_salts`` is given, the compaction renumbered this
        interval's delta salts into the dense compacted range, so the
        batch-seq counter resets in the SAME write (resetting without the
        renumber — or vice versa — would collide salts and corrupt the
        concatenation decode order).  A crash before this leaves the old
        main+delta view live; after it, the compacted view.
        ``bucket_bytes`` refreshes each committed bucket's ``bytes`` to the
        new postings generation's size (its ``ts`` stays), so the
        auto-compaction ratio measures against the index as it is now."""
        m = self.manifest()
        meta = m.setdefault("meta", {})
        # compacted batches must STAY replay-detectable: an at-least-once
        # producer retrying a batch_key right after a compaction would
        # otherwise re-ingest it (double-counted stats, tombstone churn).
        # FIFO-capped — any realistic replay window is far shorter.
        keys = meta.get("compacted_batch_keys", []) + sorted(m.get("deltas", {}))
        meta["compacted_batch_keys"] = keys[-self.MAX_REPLAY_KEYS:]
        m["deltas"] = {}
        meta.setdefault("gen", {}).update(
            {t: int(g) for t, g in gen_updates.items()}
        )
        if stats_base is not None:
            meta["stats_base"] = stats_base
        if compacted_salts is not None:
            meta["compacted_salts"] = int(compacted_salts)
            meta["next_delta_seq"] = 0
        if postings_attempts is not None:
            # the committed-attempt map of the NEW postings generation must
            # flip in the SAME write as the generation pointer — written
            # separately, a crash between the two would re-prune the still-
            # live old generation against the new map (data loss)
            meta["postings_attempts"] = postings_attempts
        for b, size in (bucket_bytes or {}).items():
            m["buckets"][b]["bytes"] = int(size)
        self._write_manifest(m)

    #: replay-detection window for compacted batch keys (FIFO)
    MAX_REPLAY_KEYS = 4096

    def batch_key_seen(self, key: str) -> bool:
        """True when ``key`` was committed as a live delta OR already
        folded into the main tables by a compaction (replay no-op)."""
        m = self.manifest()
        return key in m.get("deltas", {}) or key in m.get("meta", {}).get(
            "compacted_batch_keys", []
        )

    # -- tables ----------------------------------------------------------------

    def _resolve(self, table: str, manifest: dict | None = None) -> str:
        """Physical dir of a table: compactions commit by bumping the
        table's generation in the manifest (``<table>__g<N>``), so readers
        flip atomically with the manifest write."""
        m = self.manifest() if manifest is None else manifest
        gen = m.get("meta", {}).get("gen", {}).get(table)
        return table if gen is None else f"{table}__g{int(gen)}"

    def path(self, table: str, manifest: dict | None = None) -> str:
        return str(self.root / self._resolve(table, manifest))

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def read(self, spark: SparkSession, table: str, schema=None) -> DataFrame:
        """One table as a DataFrame; a ``schema`` (partition column
        included) spares Spark the job that infers it from a footer."""
        p = self.root / self._resolve(table)
        reader = spark.read if schema is None else spark.read.schema(schema)
        if table in (self.POSTINGS, self.DICTIONARY) and not (p / "_SUCCESS").exists():
            # bucket-partitioned tree written without the JVM committer
            # (no _SUCCESS); enumerate real dirs (a literal "bucket=*" glob
            # path makes Spark's FileStreamSink metadata probe log a
            # spurious FileNotFoundException stack on every read)
            parts = sorted(
                (str(d) for d in p.glob("bucket=*") if d.is_dir()),
                key=lambda s: int(s.rsplit("=", 1)[1]),
            )
            if not parts:
                raise FileNotFoundError(f"no bucket partitions under {p}")
            return reader.option("basePath", str(p)).parquet(*parts)
        return reader.parquet(str(p))

    def table_bytes(self, table: str) -> int:
        p = self.root / self._resolve(table)
        return sum(f.stat().st_size for f in p.rglob("*.parquet")) if p.exists() else 0
