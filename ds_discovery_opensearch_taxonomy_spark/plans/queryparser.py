"""Classic Lucene query-string parser + analysis → engine AST.

Re-implements (from observable semantics, not code) the subset of Lucene's
classic ``QueryParser`` exercised by the reference's 136 stored category
queries (reference: Domain/Repository/Lucene/TaxonomyQueryParser.cs:21-113,
default field + AllowLeadingWildcard=true at LuceneHelperTools.cs:129-153):

* ``OR`` / ``AND`` / ``NOT`` / ``&&`` / ``||`` / ``!`` / ``+`` / ``-`` with
  classic occur resolution (default operator OR; AND retroactively promotes
  the previous optional clause to MUST);
* quoted phrases with optional slop ``"..."~N``;
* ``*`` / ``?`` wildcards, leading wildcard allowed;
* field scoping ``FIELD:term``, ``FIELD:"phrase"``, ``FIELD:(group)``;
* ranges ``[a TO b]`` / ``{a TO b}``; ``SOURCE``/``NUM_START_DATE``/
  ``NUM_END_DATE`` become numeric ranges (TaxonomyQueryParser.cs:31-68);
* the pre-parse date rewrite ``START_DATE:{yyyy-mm-dd TO *}`` →
  ``NUM_START_DATE:[yyyymmdd TO *]`` (TaxonomyQueryParser.cs:23-24,89-110).

Analysis-time behavior pinned to Lucene 4.8 ``QueryParserBase.newFieldQuery``
with ``autoGeneratePhraseQueries=false``:

* unquoted term → analyzer; 0 tokens → clause dropped; 1 token → TermNode;
  >1 token → OR over all produced terms (positions ignored);
* quoted phrase → analyzer; multi-token-per-position → multi-phrase slots;
  wildcard characters inside phrases are NOT wildcards (they are analyzed
  away as punctuation, e.g. ``"Ottom?n Empire"`` → slots [ottom][n][empire]);
* wildcard terms bypass analysis and are lowercased
  (``lowercaseExpandedTerms`` default true).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from enum import Enum

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.functions import analysis


class Occur(Enum):
    MUST = "MUST"
    SHOULD = "SHOULD"
    MUST_NOT = "MUST_NOT"
    #: filter context: restricts candidates like MUST but contributes NO
    #: score (OpenSearch bool.filter — the reference's HELD_BY_CODE
    #: TermsQuery rides filter context, OpenSearchConnection.cs:289-299 +
    #: Must/Filter split :393-402)
    FILTER = "FILTER"


@dataclass(frozen=True)
class Node:
    pass


@dataclass(frozen=True)
class TermNode(Node):
    field: str
    term: str


@dataclass(frozen=True)
class OrTermsNode(Node):
    """Flattened multi-token expansion of a single unquoted query term."""

    field: str
    terms: tuple[str, ...]


@dataclass(frozen=True)
class PhraseNode(Node):
    field: str
    #: one tuple of alternative terms per phrase position (multi-phrase)
    slots: tuple[tuple[str, ...], ...]
    slop: int = 0


@dataclass(frozen=True)
class WildcardNode(Node):
    field: str
    pattern: str  # contains * / ?; matched against index terms


@dataclass(frozen=True)
class FuzzyNode(Node):
    """``term~`` / ``term~N`` — classic-parser fuzzy query.

    Expanded against the dictionary at compile time: index terms within
    plain Levenshtein distance <= ``max_edits`` (we pin transpositions=false,
    a supported FuzzyQuery configuration, because Spark/DuckDB both ship
    plain Levenshtein JVM-side), capped at 50 expansions ordered
    (distance asc, term asc), each scored as a TermQuery boosted by
    ``1 - d / min(len(query_term), len(index_term))`` and summed
    (BooleanQuery scoring rewrite — Lucene FuzzyTermsEnum boost formula).
    Like wildcards, the source text bypasses analysis and is lowercased
    (``lowercaseExpandedTerms``)."""

    field: str
    term: str
    max_edits: int


@dataclass(frozen=True)
class TermRangeNode(Node):
    field: str
    lo: str | None
    hi: str | None
    inc_lo: bool
    inc_hi: bool


@dataclass(frozen=True)
class IntRangeNode(Node):
    field: str
    lo: int | None
    hi: int | None
    inc_lo: bool
    inc_hi: bool


@dataclass(frozen=True)
class IntTermNode(Node):
    field: str
    value: int


@dataclass(frozen=True)
class MetaInNode(Node):
    """Docs-metadata membership clause (column IN values) — the engine's
    filter-context building block (reference: TermsQuery over HELD_BY_CODE
    in filter context, OpenSearchConnection.cs:289-299).  Constant score;
    evaluated as virtual postings like the other metadata clauses."""

    column: str
    values: tuple


@dataclass(frozen=True)
class IdNode(Node):
    """``id:IAID`` — single-document restriction (reference:
    LuceneHelperTools.BuildBooleanQuery:155-174; ids lowercased via
    StandardAnalyzer, LuceneHelperTools.cs:163-167)."""

    doc_ref: str


@dataclass(frozen=True)
class BoostNode(Node):
    """``clause^N`` — multiplies the wrapped clause's score contribution
    (classic-parser boost semantics; the reference's API path is
    boosts-capable, OpenSearchConnection.SetupSearchRequest:243-251).
    Matching is unaffected — only the score scales."""

    child: Node
    boost: float


@dataclass(frozen=True)
class BoolNode(Node):
    clauses: tuple[tuple[Occur, Node], ...]


@dataclass(frozen=True)
class MatchNoneNode(Node):
    pass


@dataclass(frozen=True)
class MatchAllNode(Node):
    """``*:*`` — every document, constant score 1.0 (Lucene
    MatchAllDocsQuery; the reference substitutes it for an empty API query,
    OpenSearchConnection.SetupSearchRequest:252-255)."""


@dataclass(frozen=True)
class DisMaxNode(Node):
    """Disjunction-max over per-field alternatives of ONE syntactic clause.

    Produced by multi-field query-string parsing (the reference passes a
    field list to OpenSearch ``query_string``,
    OpenSearchIAViewRepository.PerformSearch:151-186 +
    OpenSearchConnection.SetupSearchRequest:236-251; OpenSearch's default
    ``best_fields`` builds a per-term DisjunctionMaxQuery, tie_breaker 0).
    Matches the union of its children; score =
    ``max + tie_breaker * (sum - max)``."""

    children: tuple[Node, ...]
    tie_breaker: float = 0.0


#: sentinel default-field marking "route this clause across the configured
#: multi-field list" during parsing; never appears in a final AST
MULTI_FIELD = "\x00multi"


# --------------------------------------------------------------------------
# Date rewrite (pre-parse)
# --------------------------------------------------------------------------

_START_DATE_RE = re.compile(
    r"START_DATE:\s*\{(\d{4})-(\d{2})-(\d{2})\s+TO\s+\*\}", re.IGNORECASE
)
_END_DATE_RE = re.compile(
    r"END_DATE:\s*\{\*\s+TO\s+(\d{4})-(\d{2})-(\d{2})\}", re.IGNORECASE
)


def rewrite_dates(query: str) -> str:
    if "START_DATE" in query:
        query = _START_DATE_RE.sub(r"NUM_START_DATE:[\1\2\3 TO *]", query)
    if "END_DATE" in query:
        query = _END_DATE_RE.sub(r"NUM_END_DATE:[* TO \1\2\3]", query)
    return query


# --------------------------------------------------------------------------
# Lexer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<AND>AND\b|&&)
  | (?P<OR>OR\b|\|\|)
  | (?P<NOT>NOT\b|!)
  | (?P<TO>TO\b)
  | (?P<LP>\()
  | (?P<RP>\))
  | (?P<LB>\[)
  | (?P<RB>\])
  | (?P<LC>\{)
  | (?P<RC>\})
  | (?P<QUOTE>"(?P<QTEXT>(?:[^"\\]|\\.)*)")
  | (?P<PLUS>\+)
  | (?P<MINUS>-(?=[^\s]))
  | (?P<TILDE>~(?P<TNUM>\d+(?:\.\d+)?)?)
  | (?P<CARET>\^(?P<BOOST>\d+(?:\.\d+)?))
  | (?P<FIELD>(?:[^\W\d_]|_)[\w.]*(?=:))
  | (?P<COLON>:)
  | (?P<TERM>(?:[^\s()\[\]{}"~^:\\]|\\.)+)
    """,
    re.VERBOSE | re.UNICODE,
)


@dataclass
class _Tok:
    kind: str
    text: str


def _lex(query: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    n = len(query)
    while pos < n:
        m = _TOKEN_RE.match(query, pos)
        if m is None:
            # stray character (unbalanced quote etc.) — skip, classic parser
            # would raise; stored queries are well-formed
            pos += 1
            continue
        pos = m.end()
        kind = m.lastgroup
        if kind in ("QTEXT", "TNUM", "BOOST"):
            kind = {"QTEXT": "QUOTE", "TNUM": "TILDE", "BOOST": "CARET"}[kind]
        if kind == "WS":
            continue
        if kind == "QUOTE":
            toks.append(_Tok("QUOTE", m.group("QTEXT") or ""))
        elif kind == "TILDE":
            toks.append(_Tok("TILDE", m.group("TNUM") or ""))
        elif kind == "CARET":
            toks.append(_Tok("CARET", m.group("BOOST") or ""))
        else:
            toks.append(_Tok(kind, m.group()))
    return toks


_WILDCARD_RE = re.compile(r"[*?]")
_UNESCAPE_RE = re.compile(r"\\(.)")

#: FuzzyQuery's hard cap on edit distance
_MAX_FUZZY_EDITS = 2


def _fuzzy_edits(raw: str, term_len: int) -> int:
    """``~`` suffix value -> max edit distance (classic-parser rules):
    bare ``~`` -> 2; ``~N`` with N >= 1 -> int(N) capped at 2; legacy
    similarity ``~0.x`` -> ``floor((1 - sim) * term_len)`` capped at 2
    (FuzzyQuery.floatToEdits)."""
    if not raw:
        return _MAX_FUZZY_EDITS
    v = float(raw)
    if v >= 1.0:
        return min(int(v), _MAX_FUZZY_EDITS)
    return min(int((1.0 - v) * term_len), _MAX_FUZZY_EDITS)


def _unescape(text: str) -> str:
    return _UNESCAPE_RE.sub(r"\1", text)


class QueryParseError(ValueError):
    pass


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------


class QueryParser:
    """Parse + analyze a classic query string into the engine AST."""

    def __init__(self, config: EngineConfig | None = None):
        self.config = config or EngineConfig()

    # -- public ------------------------------------------------------------

    def parse(self, query: str) -> Node:
        toks = _lex(rewrite_dates(query))
        self._toks = toks
        self._i = 0
        start = MULTI_FIELD if self.config.multi_fields else self.config.default_field
        node = self._parse_bool(start)
        if node is None:
            return MatchNoneNode()
        return node

    # -- helpers -----------------------------------------------------------

    def _peek(self) -> _Tok | None:
        return self._toks[self._i] if self._i < len(self._toks) else None

    def _next(self) -> _Tok | None:
        t = self._peek()
        if t is not None:
            self._i += 1
        return t

    # -- grammar -----------------------------------------------------------

    def _parse_bool(self, field: str) -> Node | None:
        clauses: list[tuple[Occur, Node]] = []
        while True:
            t = self._peek()
            if t is None or t.kind == "RP":
                break
            # conjunction
            conj = None
            if t.kind in ("AND", "OR"):
                conj = t.kind
                self._next()
                t = self._peek()
                if t is None or t.kind == "RP":
                    break
            # modifiers
            occur = Occur.SHOULD
            if t.kind in ("NOT", "MINUS"):
                occur = Occur.MUST_NOT
                self._next()
                t = self._peek()
                if t is None or t.kind == "RP":
                    break
            elif t.kind == "PLUS":
                occur = Occur.MUST
                self._next()
                t = self._peek()
                if t is None or t.kind == "RP":
                    break
            node = self._parse_clause(field)
            # classic occur resolution (default operator OR)
            if occur is not Occur.MUST_NOT:
                occur = Occur.MUST if conj == "AND" and occur is Occur.SHOULD else occur
            if conj == "AND" and clauses:
                prev_occur, prev_node = clauses[-1]
                if prev_occur is Occur.SHOULD:
                    clauses[-1] = (Occur.MUST, prev_node)
            if node is not None:
                clauses.append((occur, node))
        if not clauses:
            return None
        if len(clauses) == 1 and clauses[0][0] is Occur.SHOULD:
            return clauses[0][1]
        return BoolNode(tuple(clauses))

    def _parse_clause(self, field: str) -> Node | None:
        t = self._next()
        if t is None:
            return None
        if t.kind == "FIELD":
            colon = self._next()  # consume ':'
            if colon is None or colon.kind != "COLON":
                raise QueryParseError(f"expected ':' after field {t.text}")
            return self._parse_clause(t.text)
        if t.kind == "LP":
            inner = self._parse_bool(field)
            closer = self._next()
            if closer is not None and closer.kind != "RP":
                raise QueryParseError("expected ')'")
            return self._boosted(inner)
        if t.kind == "QUOTE":
            slop = 0
            nxt = self._peek()
            if nxt is not None and nxt.kind == "TILDE":
                self._next()
                slop = int(float(nxt.text)) if nxt.text else 0
            return self._boosted(self._analyze_phrase(field, _unescape(t.text), slop))
        if t.kind in ("LB", "LC"):
            return self._boosted(self._parse_range(field, inc_lo=(t.kind == "LB")))
        if t.kind == "TERM":
            nxt = self._peek()
            if t.text == "*" and nxt is not None and nxt.kind == "COLON":
                # ``*:*`` — match-all syntax; ``*:term`` scopes to a field
                # literally named "*" (unmapped -> never matches)
                self._next()  # ':'
                inner = self._next()
                if inner is not None and inner.kind == "TERM" and inner.text == "*":
                    return self._boosted(MatchAllNode())
                return self._boosted(MatchNoneNode())
            fuzzy = 0
            if nxt is not None and nxt.kind == "TILDE":
                self._next()
                fuzzy = _fuzzy_edits(nxt.text, len(_unescape(t.text)))
            return self._boosted(self._analyze_term(field, t.text, fuzzy))
        if t.kind in ("TO", "AND", "OR", "NOT"):
            # bare keyword in term position — treat as literal term
            return self._analyze_term(field, t.text)
        raise QueryParseError(f"unexpected token {t.kind} {t.text!r}")

    def _boosted(self, node: Node | None) -> Node | None:
        """Consume a trailing ``^N`` and wrap the clause (multiplicative
        score boost, matching classic-parser semantics)."""
        nxt = self._peek()
        if nxt is None or nxt.kind != "CARET":
            return node
        self._next()
        boost = float(nxt.text) if nxt.text else 1.0
        if node is None or boost == 1.0:
            return node
        return BoostNode(node, boost)

    def _parse_range(self, field: str, inc_lo: bool) -> Node:
        parts: list[str] = []
        inc_hi = True
        while True:
            t = self._next()
            if t is None:
                raise QueryParseError("unterminated range")
            if t.kind in ("RB", "RC"):
                inc_hi = t.kind == "RB"
                break
            if t.kind == "TO":
                continue
            parts.append(t.text)
        if len(parts) != 2:
            raise QueryParseError(f"range needs two endpoints, got {parts}")
        lo = None if parts[0] == "*" else _unescape(parts[0])
        hi = None if parts[1] == "*" else _unescape(parts[1])
        if field in self.config.int_fields:
            return IntRangeNode(
                field,
                int(lo) if lo is not None else None,
                int(hi) if hi is not None else None,
                inc_lo,
                inc_hi,
            )
        if field == MULTI_FIELD:
            node = self._dismax(
                lambda f: TermRangeNode(f, lo, hi, inc_lo, inc_hi)
                if self._field_analyzer(f) is not None
                else None
            )
            return node if node is not None else MatchNoneNode()
        return TermRangeNode(field, lo, hi, inc_lo, inc_hi)

    # -- analysis ----------------------------------------------------------

    def _field_analyzer(self, field: str) -> str | None:
        spec = self.config.field_spec(field)
        if spec is not None:
            return spec.analyzer
        return None

    def _dismax(self, build) -> Node | None:
        """Route one syntactic clause across the configured multi-field
        list: per-field analysis (fields may use different analyzer chains)
        combined as dis-max, optional per-field boosts."""
        children: list[Node] = []
        for f, boost in self.config.multi_fields:
            n = build(f)
            if n is None or isinstance(n, MatchNoneNode):
                continue
            if boost != 1.0:
                n = BoostNode(n, boost)
            children.append(n)
        if not children:
            return None
        if len(children) == 1:
            return children[0]
        return DisMaxNode(tuple(children), self.config.multi_field_tie_breaker)

    def _analyze_term(self, field: str, raw: str, fuzzy: int = 0) -> Node | None:
        raw = raw.strip()
        if not raw:
            return None
        if field == MULTI_FIELD:
            return self._dismax(lambda f: self._analyze_term(f, raw, fuzzy))
        if field == "id":
            return IdNode(_unescape(raw).lower())
        if field in self.config.int_fields:
            return IntTermNode(field, int(_unescape(raw)))
        if _WILDCARD_RE.search(raw):
            # wildcard bypasses analysis; lowercaseExpandedTerms=true
            return WildcardNode(field, _unescape(raw.lower()))
        analyzer = self._field_analyzer(field)
        if analyzer is None:
            # unknown field — no such indexed field, never matches (mirrors
            # the reference's in-memory index for unmapped fields)
            return MatchNoneNode()
        if fuzzy > 0:
            # fuzzy bypasses analysis like wildcards (lowercased only)
            return FuzzyNode(field, _unescape(raw).lower(), fuzzy)
        terms = analysis.analyze_terms(analyzer, _unescape(raw))
        if not terms:
            return None
        if len(terms) == 1:
            return TermNode(field, terms[0])
        return OrTermsNode(field, tuple(terms))

    def _analyze_phrase(self, field: str, raw: str, slop: int) -> Node | None:
        if field == MULTI_FIELD:
            return self._dismax(lambda f: self._analyze_phrase(f, raw, slop))
        analyzer = self._field_analyzer(field)
        if analyzer is None:
            return MatchNoneNode()
        toks = analysis.analyze(analyzer, _unescape(raw))
        if not toks:
            return None
        if len(toks) == 1:
            return TermNode(field, toks[0][0])
        positions = sorted({p for _, p in toks})
        if len(positions) == 1:
            return OrTermsNode(field, tuple(dict.fromkeys(t for t, _ in toks)))
        posmap = {p: i for i, p in enumerate(positions)}
        slots: list[list[str]] = [[] for _ in positions]
        for term, p in toks:
            if term not in slots[posmap[p]]:
                slots[posmap[p]].append(term)
        return PhraseNode(field, tuple(tuple(s) for s in slots), slop)


def parse_query(query: str, config: EngineConfig | None = None) -> Node:
    return QueryParser(config).parse(query)


# --------------------------------------------------------------------------
# Traversal: collectors and rewrites walk trees through these; evaluators
# keep their own per-node dispatch, which is scoring semantics
# --------------------------------------------------------------------------


def children(node: Node) -> tuple[Node, ...]:
    """A node's direct sub-queries; () for a leaf."""
    if isinstance(node, BoostNode):
        return (node.child,)
    if isinstance(node, DisMaxNode):
        return node.children
    if isinstance(node, BoolNode):
        return tuple(c for _, c in node.clauses)
    return ()


def walk(node: Node) -> Iterator[Node]:
    """Every node of a tree once, pre-order."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(reversed(children(n)))


def map_leaves(node: Node, fn: Callable[[Node], Node]) -> Node:
    """The tree with every leaf replaced by ``fn(leaf)``: Boost, DisMax and
    Bool nodes are rebuilt around the rewritten leaves, keeping their
    boosts, tie-breakers and occurs."""
    if isinstance(node, BoostNode):
        return BoostNode(map_leaves(node.child, fn), node.boost)
    if isinstance(node, DisMaxNode):
        return DisMaxNode(
            tuple(map_leaves(c, fn) for c in node.children), node.tie_breaker
        )
    if isinstance(node, BoolNode):
        return BoolNode(tuple((o, map_leaves(c, fn)) for o, c in node.clauses))
    return fn(node)


def leaf_terms(node: Node) -> list[tuple[str, str]]:
    """The (field, term) pairs an exact-term leaf (term, or-terms, phrase)
    references; [] for any other node."""
    if isinstance(node, TermNode):
        return [(node.field, node.term)]
    if isinstance(node, OrTermsNode):
        return [(node.field, t) for t in node.terms]
    if isinstance(node, PhraseNode):
        return [(node.field, t) for slot in node.slots for t in slot]
    return []


def dictionary_needs(
    nodes: Iterable[Node],
) -> tuple[set[tuple[str, str]], set[Node], set[FuzzyNode]]:
    """What trees ask of a term dictionary, in one walk each: the (field,
    term) pairs of their exact-term leaves, their wildcard / term-range
    constructs and their fuzzy constructs."""
    exact: set[tuple[str, str]] = set()
    constructs: set[Node] = set()
    fuzzies: set[FuzzyNode] = set()
    for node in nodes:
        for n in walk(node):
            if isinstance(n, (WildcardNode, TermRangeNode)):
                constructs.add(n)
            elif isinstance(n, FuzzyNode):
                fuzzies.add(n)
            else:
                exact.update(leaf_terms(n))
    return exact, constructs, fuzzies
