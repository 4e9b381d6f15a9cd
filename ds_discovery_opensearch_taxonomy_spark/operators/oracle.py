"""Brute-force doc-at-a-time oracle evaluator.

An independent evaluation path (no inverted index, no postings, no WAND)
used to verify the Spark engine's per-category match sets and BM25 scores —
mirrors the role of the reference's in-memory Lucene searcher over a
transient RAMDirectory (InMemoryCategoriserRepository.cs:365-454), but
implemented as plain Python over per-document token dictionaries.
"""

from __future__ import annotations

import fnmatch
import re
from dataclasses import dataclass, field

import numpy as np

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.functions import analysis, scoring
from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import (
    BoolNode,
    BoostNode,
    DisMaxNode,
    FuzzyNode,
    IdNode,
    MetaInNode,
    IntRangeNode,
    IntTermNode,
    MatchAllNode,
    MatchNoneNode,
    Node,
    Occur,
    OrTermsNode,
    PhraseNode,
    TermNode,
    TermRangeNode,
    WildcardNode,
)


def levenshtein(a: str, b: str, cap: int | None = None) -> int:
    """Plain edit distance (no transpositions — matches Spark/DuckDB
    ``levenshtein``); with ``cap``, returns cap+1 once exceeded."""
    if a == b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    if cap is not None and len(b) - len(a) > cap:
        return cap + 1
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, 1):
        cur = [j]
        for i, ca in enumerate(a, 1):
            cur.append(min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb)))
        if cap is not None and min(cur) > cap:
            return cap + 1
        prev = cur
    return prev[-1]


def expand_fuzzy(
    vocab: list[str], node: FuzzyNode, cap: int = 50
) -> list[tuple[str, float]]:
    """(term, boost) expansions of ``node`` over one field's vocabulary
    within its edit distance, capped like the engine: (distance asc, term
    asc), boost ``1 - d/min_len``.  A term whose length differs from the
    query's by more than ``max_edits`` cannot be within it, so the length
    test skips the distance for most of the vocabulary."""
    q, k = node.term, node.max_edits
    matches = sorted(
        (d, t)
        for t in vocab
        if abs(len(t) - len(q)) <= k and (d := levenshtein(t, q, k)) <= k
    )[:cap]
    return [(t, 1.0 - d / min(len(q), len(t)) if d else 1.0) for d, t in matches]


@dataclass
class OracleDoc:
    doc_id: int
    doc_ref: str  # lowercased external reference (reference: id field)
    #: field -> term -> sorted positions
    fields: dict[str, dict[str, list[int]]]
    #: field -> token count (dl)
    dl: dict[str, int]
    int_values: dict[str, int] = field(default_factory=dict)
    #: raw source-row metadata (filter-context clauses match against it)
    meta: dict = field(default_factory=dict)


def build_oracle_doc(
    doc_id: int,
    row: dict,
    config: EngineConfig,
    doc_ref: str | None = None,
) -> OracleDoc:
    fields: dict[str, dict[str, list[int]]] = {}
    dl: dict[str, int] = {}
    for spec in config.fields:
        text = " ".join(
            str(row[c]) for c in spec.source_columns if row.get(c) is not None
        )
        postings: dict[str, list[int]] = {}
        count = 0
        for term, pos in analysis.analyze(spec.analyzer, text):
            postings.setdefault(term, []).append(pos)
            count += 1
        fields[spec.name] = postings
        dl[spec.name] = count
    ints = {f: int(row[f]) for f in config.int_fields if row.get(f) is not None}
    return OracleDoc(
        doc_id, (doc_ref or str(doc_id)).lower(), fields, dl, ints, dict(row)
    )


class OracleIndex:
    """Corpus-wide stats + docs for brute-force evaluation."""

    def __init__(self, docs: list[OracleDoc], config: EngineConfig):
        self.docs = docs
        self.config = config
        self.n_docs = len(docs)
        self.df: dict[tuple[str, str], int] = {}
        self.terms_by_field: dict[str, list[str]] = {}
        sum_dl: dict[str, int] = {}
        for d in docs:
            for fname, postings in d.fields.items():
                for term in postings:
                    self.df[(fname, term)] = self.df.get((fname, term), 0) + 1
                sum_dl[fname] = sum_dl.get(fname, 0) + d.dl[fname]
        self.avgdl = {
            f: (sum_dl.get(f, 0) / self.n_docs if self.n_docs else 1.0)
            for f in config.field_names
        }
        by_field: dict[str, set[str]] = {}
        for fname, term in self.df:
            by_field.setdefault(fname, set()).add(term)
        self.terms_by_field = {f: sorted(ts) for f, ts in by_field.items()}

    # -- dictionary expansion ------------------------------------------------

    def expand_wildcard(self, fname: str, pattern: str) -> list[str]:
        rx = re.compile(
            "^" + "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(c)
                for c in pattern
            ) + "$"
        )
        return [t for t in self.terms_by_field.get(fname, []) if rx.match(t)]

    def expand_range(self, node: TermRangeNode) -> list[str]:
        out = []
        for t in self.terms_by_field.get(node.field, []):
            if node.lo is not None:
                if t < node.lo or (t == node.lo and not node.inc_lo):
                    continue
            if node.hi is not None:
                if t > node.hi or (t == node.hi and not node.inc_hi):
                    continue
            out.append(t)
        return out

    def expand_fuzzy(self, node: FuzzyNode, cap: int = 50) -> list[tuple[str, float]]:
        return expand_fuzzy(self.terms_by_field.get(node.field, []), node, cap)

    # -- evaluation ------------------------------------------------------------

    def evaluate(self, node: Node, doc: OracleDoc) -> tuple[bool, float]:
        """Returns (matches, bm25_score)."""
        cfg = self.config
        if isinstance(node, MatchNoneNode):
            return False, 0.0
        if isinstance(node, MatchAllNode):
            return True, 1.0
        if isinstance(node, TermNode):
            positions = doc.fields.get(node.field, {}).get(node.term)
            if not positions:
                return False, 0.0
            score = scoring.bm25(
                float(len(positions)),
                float(self.df[(node.field, node.term)]),
                float(self.n_docs),
                float(doc.dl[node.field]),
                self.avgdl[node.field],
                cfg.k1,
                cfg.b,
            )
            return True, float(score)
        if isinstance(node, OrTermsNode):
            total = 0.0
            matched = False
            for t in node.terms:
                ok, s = self.evaluate(TermNode(node.field, t), doc)
                matched = matched or ok
                total += s
            return matched, total
        if isinstance(node, PhraseNode):
            fpost = doc.fields.get(node.field, {})
            slot_positions: list[np.ndarray] = []
            for i, slot in enumerate(node.slots):
                merged: set[int] = set()
                for t in slot:
                    merged.update(p - i for p in fpost.get(t, ()))
                if not merged:
                    return False, 0.0
                slot_positions.append(np.array(sorted(merged), dtype=np.int64))
            freq = scoring.phrase_freq(slot_positions, node.slop)
            if freq <= 0.0:
                return False, 0.0
            idf_sum = sum(
                scoring.idf(
                    float(self.df.get((node.field, t), 0)), float(self.n_docs)
                )
                for slot in node.slots
                for t in slot
            )
            score = idf_sum * scoring.tf_norm(
                freq,
                float(doc.dl[node.field]),
                self.avgdl[node.field],
                cfg.k1,
                cfg.b,
            )
            return True, float(score)
        if isinstance(node, WildcardNode):
            terms = self.expand_wildcard(node.field, node.pattern)
            hit = any(t in doc.fields.get(node.field, {}) for t in terms)
            return hit, 1.0 if hit else 0.0
        if isinstance(node, TermRangeNode):
            terms = self.expand_range(node)
            hit = any(t in doc.fields.get(node.field, {}) for t in terms)
            return hit, 1.0 if hit else 0.0
        if isinstance(node, IntTermNode):
            hit = doc.int_values.get(node.field) == node.value
            return hit, 1.0 if hit else 0.0
        if isinstance(node, IntRangeNode):
            v = doc.int_values.get(node.field)
            if v is None:
                return False, 0.0
            if node.lo is not None and (v < node.lo or (v == node.lo and not node.inc_lo)):
                return False, 0.0
            if node.hi is not None and (v > node.hi or (v == node.hi and not node.inc_hi)):
                return False, 0.0
            return True, 1.0
        if isinstance(node, IdNode):
            hit = doc.doc_ref == node.doc_ref
            return hit, 1.0 if hit else 0.0
        if isinstance(node, MetaInNode):
            hit = doc.meta.get(node.column) in node.values
            return hit, 1.0 if hit else 0.0
        if isinstance(node, FuzzyNode):
            total = 0.0
            matched = False
            for t, boost in self.expand_fuzzy(node):
                ok, s = self.evaluate(TermNode(node.field, t), doc)
                matched = matched or ok
                total += boost * s
            return matched, total
        if isinstance(node, DisMaxNode):
            results = [self.evaluate(c, doc) for c in node.children]
            hits = [s for ok, s in results if ok]
            if not any(ok for ok, _ in results):
                return False, 0.0
            t = node.tie_breaker
            return True, (1.0 - t) * max(hits) + t * sum(hits)
        if isinstance(node, BoostNode):
            ok, s = self.evaluate(node.child, doc)
            return ok, s * node.boost
        if isinstance(node, BoolNode):
            must_scores = []
            should_scores = []
            for occur, child in node.clauses:
                ok, s = self.evaluate(child, doc)
                if occur is Occur.MUST:
                    if not ok:
                        return False, 0.0
                    must_scores.append(s)
                elif occur is Occur.FILTER:
                    # filter context: must match, contributes no score
                    if not ok:
                        return False, 0.0
                elif occur is Occur.MUST_NOT:
                    if ok:
                        return False, 0.0
                else:
                    if ok:
                        should_scores.append(s)
            has_must = any(
                o in (Occur.MUST, Occur.FILTER) for o, _ in node.clauses
            )
            has_should = any(o is Occur.SHOULD for o, _ in node.clauses)
            if not has_must:
                # no must/filter: >=1 SHOULD must match (Lucene/OpenSearch
                # minimum_should_match defaults to 1 there, 0 otherwise)
                if not has_should:
                    return False, 0.0  # pure negative matches nothing
                if not should_scores:
                    return False, 0.0
            return True, sum(must_scores) + sum(should_scores)
        raise TypeError(f"unknown node {type(node)}")

    def matching_docs(self, node: Node) -> list[tuple[int, float]]:
        """All (doc_id, score) matching, ordered (score desc, doc_id asc)."""
        out = [
            (d.doc_id, s)
            for d in self.docs
            for ok, s in [self.evaluate(node, d)]
            if ok
        ]
        out.sort(key=lambda x: (-x[1], x[0]))
        return out
