"""Vectorized tokenization: unique-span analysis over Arrow batches.

The index-build tokenizer's cost model must scale with the *vocabulary*, not
the corpus (input_hint: vectorized pandas/Arrow UDFs, no per-row Python).
The reference analyzes every document independently
(InMemoryCategoriserRepository.cs:461-502 — one Lucene TokenStream per
field); re-running the full analyzer chain per token is the per-row trap.

Decomposition used here (all steps C-speed except the per-*unique-span*
analyzer call):

1. **Span split** — one ``re.findall`` per document finds maximal runs of
   characters that can appear inside any classic-grammar token
   (``[\\w.\\-/,'’@&]``).  Tokens never cross a non-span character, and the
   only lookahead in the classic grammar (the acronym trailing dot) is a
   span character, so ``analyze(span)`` concatenated over spans is exactly
   ``analyze(text)`` — verified by the differential fuzz test
   (tests/test_vtokenize.py).
2. **Factorize** — ``pd.factorize`` (hash-based, C) maps span occurrences to
   chunk-unique ids.
3. **Expand unique spans** — the full analyzer chain
   (functions/analysis.py, golden-tested) runs once per *new* unique span;
   results live in a process-lifetime :class:`FieldSpanCache` as flat NumPy
   arrays (term ids, position increments, validity), so steady-state chunks
   run the Python kernel only for the Zipf tail.
4. **Ragged gather + position cumsum** — per-occurrence emission streams are
   reconstructed with ``np.repeat``/``cumsum`` index arithmetic; positions
   are a global cumsum of increments reset at document boundaries (identical
   to Lucene position-increment semantics: first token at 0, stacked tokens
   share positions).
5. **(doc, term) aggregation** — one ``np.lexsort`` + boundary diff yields
   tf / positions per posting; positions delta+varbyte encode in one codec
   pass over the chunk (codec.encode_position_groups).

Output is emitted as Arrow RecordBatches with the posting binary column
built zero-copy from (offsets, stream) buffers — no per-posting Python
objects anywhere.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from ds_discovery_opensearch_taxonomy_spark.config import TEXT_CAS_PUNC
from ds_discovery_opensearch_taxonomy_spark.functions import analysis, codec

#: maximal runs of characters that can occur inside a classic-grammar token:
#: unicode word chars plus the joiners used by HOST/NUM/EMAIL/APOS/COMPANY
#: rules.  Everything outside a span is a delimiter for every analyzer.
CLASSIC_SPAN = re.compile(r"[\w.\-/,'’@&]+", re.UNICODE)
#: WhitespaceTokenizer spans (textcaspunc chain).
WS_SPAN = re.compile(r"\S+")

_SPAN_KIND_WS = "ws"
_SPAN_KIND_CLASSIC = "classic"

#: spans every CLASSIC chain maps to themselves as one slot (see
#: FieldSpanCache._add_batch): lowercase-ASCII alpha runs or digit runs
_FAST_SPAN = re.compile(r"[a-z]+\Z|[0-9]+\Z")


def span_kind(analyzer: str) -> str:
    return _SPAN_KIND_WS if analyzer == TEXT_CAS_PUNC else _SPAN_KIND_CLASSIC


def term_id_of(field: str, term: str) -> int:
    """64-bit id of a (field, term) pair — signed int64 (blake2b-8).
    Collision risk is over the VOCABULARY (~n²/2⁶⁵); the dictionary stage
    detects collisions at build time (index_build.py) — swap to a 128-bit
    two-column id beyond ~10⁸ distinct terms."""
    digest = hashlib.blake2b(
        f"{field}\x00{term}".encode(), digest_size=8
    ).digest()
    return int.from_bytes(digest, "big", signed=True)


def analyze_span_slots(analyzer: str, span: str) -> tuple[list[str], np.ndarray]:
    """All emission slots for one span: ``(terms, position_increments)``.

    Unlike :func:`analysis.analyze`, empty terms are KEPT (flagged by the
    caller) because their increments still advance positions — the
    per-document position stream is a cumsum over every slot."""
    if analyzer == TEXT_CAS_PUNC:
        # WhitespaceTokenizer + inert StopFilter: the span IS the token
        return [span], np.ones(1, dtype=np.int32)
    expander = analysis._CHAIN_EXPANDERS[analyzer]
    terms: list[str] = []
    incs: list[int] = []
    for tok in analysis.classic_tokenize(span):
        for term, inc in expander(tok):
            terms.append(term)
            incs.append(inc)
    return terms, np.asarray(incs, dtype=np.int32)


class _Flat:
    """Append-only flat array with geometric growth (no per-chunk reconcat)."""

    __slots__ = ("a", "n")

    def __init__(self, dtype, cap: int = 4096):
        self.a = np.empty(cap, dtype=dtype)
        self.n = 0

    def extend(self, arr: np.ndarray) -> None:
        need = self.n + len(arr)
        if need > len(self.a):
            cap = max(need, 2 * len(self.a))
            grown = np.empty(cap, dtype=self.a.dtype)
            grown[: self.n] = self.a[: self.n]
            self.a = grown
        self.a[self.n : need] = arr
        self.n = need

    def append(self, v) -> None:
        self.extend(np.asarray([v], dtype=self.a.dtype))

    def view(self) -> np.ndarray:
        return self.a[: self.n]


class FieldSpanCache:
    """Process-lifetime expansion cache for one indexed field.

    Maps span string -> uid; flat arrays hold each uid's emission slots
    (term_id, increment, validity).  Bounded by ``max_spans`` — the SPAN
    cache (slot dict + flat slot arrays, the bulk of the memory) is cleared
    wholesale if an adversarial corpus exceeds it (cost: recomputation,
    never wrong results).  The tid <-> term maps are deliberately NOT
    cleared: consumers resolve accumulated tids only at partition/batch end
    (index_build._pack_field_runs, streaming vocab recovery), so dropping
    them mid-partition would turn the safety valve into a KeyError crash.
    They are tid-keyed, collision-checked downstream (dictionary stage),
    and grow with the worker's seen VOCABULARY — a fraction of what the
    span reset frees."""

    def __init__(self, field_name: str, analyzer: str, max_spans: int = 4_000_000):
        self.field = field_name
        self.analyzer = analyzer
        self.max_spans = max_spans
        self.tid_term: dict[int, str] = {}
        self._term_tid: dict[str, int] = {}
        self._reset()

    def _reset(self) -> None:
        """Clear the span cache only — tid/term maps survive (see class doc)."""
        self.slot: dict[str, int] = {}
        self.starts = _Flat(np.int64)
        self.lens = _Flat(np.int32)
        self.tids = _Flat(np.int64)
        self.incs = _Flat(np.int32)
        self.valid = _Flat(bool)

    def _add_batch(self, spans: list[str]) -> None:
        """Append expansion slots for a batch of NEW spans (uids already
        assigned by uid_lut, in list order).

        Two cost levers over the old span-at-a-time ``_add`` (measured
        ~half the tokenize kernel at 27 µs/span):

        * **Trivial-span fast path** — a span the whole chain maps to
          itself as a single slot skips tokenizer + expanders entirely.
          For the whitespace analyzer (textcaspunc) that is EVERY span
          (WhitespaceTokenizer + inert StopFilter); for the classic
          chains it is exactly ``[a-z]+`` or ``[0-9]+``: ClassicTokenizer
          emits such a span whole (ALPHANUM, no separators to form
          HOST/NUM), WordDelimiterFilter's _IS_SIMPLE passes it through,
          and possessive-strip / ASCII-fold / lowercase are no-ops on
          lowercase ASCII alnum.  Pinned by a differential test against
          analyze_span_slots (tests/test_vtokenize.py).
        * **Batched buffer appends** — slots accumulate in plain Python
          lists and hit the _Flat arrays once per batch, not once per
          span."""
        trivial_all = self.analyzer == TEXT_CAS_PUNC
        fast = _FAST_SPAN.match
        get_tid = self._term_tid.get
        term_tid = self._term_tid
        tid_term = self.tid_term
        field = self.field
        lens = np.empty(len(spans), dtype=np.int32)
        tids_l: list[int] = []
        incs_l: list[int] = []
        valid_l: list[bool] = []
        for i, s in enumerate(spans):
            if trivial_all or fast(s) is not None:
                tid = get_tid(s)
                if tid is None:
                    tid = term_id_of(field, s)
                    term_tid[s] = tid
                    tid_term[tid] = s
                lens[i] = 1
                tids_l.append(tid)
                incs_l.append(1)
                valid_l.append(True)
                continue
            terms, incs = analyze_span_slots(self.analyzer, s)
            lens[i] = len(terms)
            incs_l.extend(incs.tolist())
            for t in terms:
                if not t:
                    tids_l.append(0)
                    valid_l.append(False)
                    continue
                tid = get_tid(t)
                if tid is None:
                    tid = term_id_of(field, t)
                    term_tid[t] = tid
                    tid_term[tid] = t
                tids_l.append(tid)
                valid_l.append(True)
        base = self.tids.n
        starts = base + np.concatenate(
            ([0], np.cumsum(lens[:-1], dtype=np.int64))
        )
        self.starts.extend(starts)
        self.lens.extend(lens)
        self.tids.extend(np.asarray(tids_l, dtype=np.int64))
        self.incs.extend(np.asarray(incs_l, dtype=np.int32))
        self.valid.extend(np.asarray(valid_l, dtype=bool))

    def has_collision(self) -> bool:
        """True when two distinct terms seen so far share a term_id."""
        return len(self._term_tid) != len(self.tid_term)

    def uid_lut(self, uniques: np.ndarray) -> np.ndarray:
        """Chunk-unique span strings -> cache uids (computing new ones)."""
        if len(self.slot) > self.max_spans:
            self._reset()
        slot = self.slot
        get = slot.get
        out = np.empty(len(uniques), dtype=np.int64)
        new_spans: list[str] = []
        base = len(slot)
        for i, s in enumerate(uniques):
            uid = get(s)
            if uid is None:
                uid = base + len(new_spans)
                slot[s] = uid
                new_spans.append(s)
            out[i] = uid
        if new_spans:
            self._add_batch(new_spans)
        return out


def _find_spans(texts: list, pattern: re.Pattern) -> tuple[list[str], np.ndarray]:
    """Per-doc findall -> (flat span list, doc index per span)."""
    flat: list[str] = []
    counts = np.zeros(len(texts), dtype=np.int64)
    findall = pattern.findall
    for i, t in enumerate(texts):
        if not t:
            continue
        spans = findall(t)
        counts[i] = len(spans)
        flat.extend(spans)
    doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
    return flat, doc_idx


def _ragged_gather(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Index array that concatenates slices [starts[i], starts[i]+lens[i])."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    cum = np.cumsum(lens)
    base = np.repeat(cum - lens, lens)
    return np.repeat(starts, lens) + np.arange(total, dtype=np.int64) - base


def field_postings(
    cache: FieldSpanCache,
    occ_uids: np.ndarray,
    occ_doc: np.ndarray,
    n_docs: int,
    doc_ids: np.ndarray,
) -> dict | None:
    """Span occurrences (uid + doc index, doc-major order) -> aggregated
    postings for one field: term_id / doc_id / tf / dl arrays plus the
    chunk position stream (flat sorted positions + per-posting boundaries).
    """
    starts_all = cache.starts.view()
    lens_all = cache.lens.view()
    lens = lens_all[occ_uids]
    idx = _ragged_gather(starts_all[occ_uids], lens.astype(np.int64))
    if idx.size == 0:
        return None
    tids = cache.tids.view()[idx]
    incs = cache.incs.view()[idx]
    valid = cache.valid.view()[idx]
    doc_of = np.repeat(occ_doc, lens)

    # positions: cumsum of increments, reset at each document's first slot
    csum = np.cumsum(incs, dtype=np.int64)
    em_per_doc = np.bincount(doc_of, minlength=n_docs)
    dstarts = np.concatenate([[0], np.cumsum(em_per_doc)[:-1]])
    base_doc = np.where(dstarts > 0, csum[dstarts - 1], 0)
    pos = csum - np.repeat(base_doc, em_per_doc) - 1

    tids = tids[valid]
    doc_of = doc_of[valid]
    pos = pos[valid]
    if tids.size == 0:
        return None
    dl_per_doc = np.bincount(doc_of, minlength=n_docs)

    # aggregate per (doc, term); lexsort is stable so positions stay sorted
    order = np.lexsort((pos, tids, doc_of))
    d2 = doc_of[order]
    t2 = tids[order]
    p2 = pos[order]
    gb = np.empty(len(d2), dtype=bool)
    gb[0] = True
    gb[1:] = (d2[1:] != d2[:-1]) | (t2[1:] != t2[:-1])
    gs = np.flatnonzero(gb)
    tf = np.diff(np.append(gs, len(d2))).astype(np.int32)
    pos_data, pos_bounds = codec.encode_position_groups(p2, gs)
    return {
        "term_id": t2[gs],
        "doc_id": doc_ids[d2[gs]],
        "tf": tf,
        "dl": dl_per_doc[d2[gs]].astype(np.int32),
        "pos_data": pos_data,
        "pos_bounds": pos_bounds,
    }


class ChunkTokenizer:
    """Tokenizes chunks of documents for every configured field.

    ``specs``: ``[(field_name, analyzer, [source_columns...]), ...]``.
    Caches (span expansions, term ids) persist for the worker process
    lifetime, so steady-state cost per chunk is vectorized array work plus
    the Zipf tail of never-seen spans."""

    def __init__(self, specs: list[tuple[str, str, list[str]]]):
        self.specs = specs
        self.caches = [FieldSpanCache(n, a) for n, a, _ in specs]
        # span finding is shared per (column, span-kind) across fields
        self._col_kinds: list[tuple[str, str]] = []
        seen = set()
        for _, analyzer, cols in specs:
            kind = span_kind(analyzer)
            for c in cols:
                if (c, kind) not in seen:
                    seen.add((c, kind))
                    self._col_kinds.append((c, kind))

    def tokenize(self, columns: dict[str, list], doc_ids: np.ndarray):
        """One chunk -> list of per-field posting dicts (see field_postings),
        each tagged with its field ordinal.  ``columns`` maps source column
        name -> list of python strings (None treated as empty)."""
        n_docs = len(doc_ids)
        pattern = {_SPAN_KIND_CLASSIC: CLASSIC_SPAN, _SPAN_KIND_WS: WS_SPAN}

        # 1-2) spans + factorize, once per (column, kind); one factorize per
        # kind over the concatenation so shared vocabulary hashes once
        per_kind: dict[str, list[tuple[str, list, np.ndarray]]] = {}
        for col, kind in self._col_kinds:
            flat, doc_idx = _find_spans(columns[col], pattern[kind])
            per_kind.setdefault(kind, []).append((col, flat, doc_idx))
        codes_of: dict[tuple[str, str], np.ndarray] = {}
        doc_of: dict[tuple[str, str], np.ndarray] = {}
        uniques_of: dict[str, np.ndarray] = {}
        for kind, entries in per_kind.items():
            all_flat: list[str] = []
            for _, flat, _ in entries:
                all_flat.extend(flat)
            if not all_flat:
                uniques_of[kind] = np.empty(0, dtype=object)
                for col, _, doc_idx in entries:
                    codes_of[(col, kind)] = np.empty(0, dtype=np.int64)
                    doc_of[(col, kind)] = doc_idx[:0]
                continue
            codes, uniques = pd.factorize(np.asarray(all_flat, dtype=object))
            uniques_of[kind] = np.asarray(uniques, dtype=object)
            off = 0
            for col, flat, doc_idx in entries:
                codes_of[(col, kind)] = codes[off : off + len(flat)].astype(np.int64)
                doc_of[(col, kind)] = doc_idx
                off += len(flat)

        # 3-5) per field: map codes -> cache uids, merge multi-column
        # occurrence streams in (doc, column-order) and aggregate
        results = []
        for ford, ((fname, analyzer, cols), cache) in enumerate(
            zip(self.specs, self.caches)
        ):
            kind = span_kind(analyzer)
            uniques = uniques_of.get(kind)
            if uniques is None or len(uniques) == 0:
                continue
            lut = cache.uid_lut(uniques)
            if len(cols) == 1:
                occ_codes = codes_of[(cols[0], kind)]
                occ_doc = doc_of[(cols[0], kind)]
                occ_uids = lut[occ_codes] if occ_codes.size else occ_codes
            else:
                parts_codes = [codes_of[(c, kind)] for c in cols]
                parts_doc = [doc_of[(c, kind)] for c in cols]
                part_tag = np.concatenate(
                    [np.full(len(pc), i, dtype=np.int8) for i, pc in enumerate(parts_codes)]
                )
                occ_codes = np.concatenate(parts_codes)
                occ_doc = np.concatenate(parts_doc)
                # stable: within (doc, column) original span order is kept
                order = np.lexsort((part_tag, occ_doc))
                occ_codes = occ_codes[order]
                occ_doc = occ_doc[order]
                occ_uids = lut[occ_codes] if occ_codes.size else occ_codes
            if occ_uids.size == 0:
                continue
            out = field_postings(cache, occ_uids, occ_doc, n_docs, doc_ids)
            if out is not None:
                out["ford"] = ford
                results.append(out)
        return results

    def term_strings(self, results: list[dict]) -> list:
        """First-occurrence term-string column across the chunk's posting
        rows (ships each term string once per chunk; None elsewhere —
        the dictionary stage recovers it with max())."""
        n = sum(len(r["term_id"]) for r in results)
        col: list = [None] * n
        seen: set[int] = set()
        off = 0
        for r in results:
            cache = self.caches[r["ford"]]
            tid_term = cache.tid_term
            u, first = np.unique(r["term_id"], return_index=True)
            for tid, fi in zip(u.tolist(), first.tolist()):
                if tid not in seen:
                    seen.add(tid)
                    col[off + fi] = tid_term[tid]
            off += len(r["term_id"])
        return col
