"""Query-compile golden tests (SURVEY.md §5 item 2) for the classic-parser
port, pinned against the fixture queries in FIXTURES.md."""

import hashlib
import json

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.operators import search
from ds_discovery_opensearch_taxonomy_spark.operators.search import (
    ExpandedFuzzyNode,
    ExpandedTermsNode,
    VirtualDocsNode,
)
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import (
    BoolNode,
    IntRangeNode,
    Occur,
    OrTermsNode,
    PhraseNode,
    TermNode,
    WildcardNode,
    parse_query,
    rewrite_dates,
)
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import load_categories

CFG = EngineConfig()
DF = CFG.default_field


def occurs(node):
    assert isinstance(node, BoolNode)
    return [o for o, _ in node.clauses]


class TestBasics:
    def test_single_phrase_single_token(self):
        assert parse_query('"chartism"') == TermNode(DF, "chartism")

    def test_or_of_phrases(self):
        # C10011 Chartism
        n = parse_query('"chartism" OR "chartist movement"')
        assert isinstance(n, BoolNode)
        assert occurs(n) == [Occur.SHOULD, Occur.SHOULD]
        assert n.clauses[0][1] == TermNode(DF, "chartism")
        assert n.clauses[1][1] == PhraseNode(DF, (("chartist",), ("movement",)), 0)

    def test_not_with_field_scope(self):
        # C10041 Freemasons
        n = parse_query('freemason* OR "masonic" NOT CATDOCREF: "HCA 42"')
        assert occurs(n) == [Occur.SHOULD, Occur.SHOULD, Occur.MUST_NOT]
        assert n.clauses[0][1] == WildcardNode(DF, "freemason*")
        assert n.clauses[1][1] == TermNode(DF, "masonic")
        assert n.clauses[2][1] == PhraseNode("CATDOCREF", (("hca",), ("42",)), 0)

    def test_and_promotes_previous(self):
        n = parse_query("women AND suffrage OR franchise")
        assert occurs(n) == [Occur.MUST, Occur.MUST, Occur.SHOULD]

    def test_grouping(self):
        n = parse_query("(women OR woman) AND (suffrage OR franchise)")
        assert occurs(n) == [Occur.MUST, Occur.MUST]
        left = n.clauses[0][1]
        assert isinstance(left, BoolNode)
        assert [c[1] for c in left.clauses] == [
            TermNode(DF, "women"),
            TermNode(DF, "woman"),
        ]

    def test_phrase_slop(self):
        n = parse_query('"sylvia pankhurst"~5')
        assert n == PhraseNode(DF, (("sylvia",), ("pankhurst",)), 5)

    def test_field_scoped_term(self):
        n = parse_query('textcaspunc:"arsenal"')
        assert n == TermNode("textcaspunc", "arsenal")

    def test_case_sensitive_field(self):
        n = parse_query("textcasnopunc:LOCOG")
        assert n == TermNode("textcasnopunc", "LOCOG")

    def test_wildcard_question_in_phrase_is_not_wildcard(self):
        # C10131 "Ottom?n Empire" — '?' is punctuation inside a phrase
        n = parse_query('"Ottom?n Empire"')
        assert n == PhraseNode(DF, (("ottom",), ("n",), ("empire",)), 0)

    def test_leading_wildcard_allowed(self):
        n = parse_query("*ship?")
        assert n == WildcardNode(DF, "*ship?")

    def test_multi_token_unquoted_term_flattens_to_or(self):
        n = parse_query("tEst")
        assert n == OrTermsNode(DF, ("test", "t", "est", "test"))


class TestDatesAndRanges:
    def test_date_rewrite(self):
        assert (
            rewrite_dates("START_DATE:{1939-01-01 TO *}")
            == "NUM_START_DATE:[19390101 TO *]"
        )
        assert (
            rewrite_dates("END_DATE:{* TO 1945-12-31}")
            == "NUM_END_DATE:[* TO 19451231]"
        )

    def test_numeric_range_open_end(self):
        n = parse_query("NUM_START_DATE:[19390101 TO *]")
        assert n == IntRangeNode("NUM_START_DATE", 19390101, None, True, True)

    def test_date_query_end_to_end(self):
        n = parse_query('"blitz" AND START_DATE:{1939-01-01 TO *}')
        assert occurs(n) == [Occur.MUST, Occur.MUST]
        assert n.clauses[1][1] == IntRangeNode(
            "NUM_START_DATE", 19390101, None, True, True
        )

    def test_source_numeric_range(self):
        n = parse_query("SOURCE:[100 TO 200]")
        assert n == IntRangeNode("SOURCE", 100, 200, True, True)


class TestFixtureQueries:
    def test_votes_for_women(self):
        # C10113 — the gnarliest fixture query shape
        q = (
            '"suffragette" OR "suffragettes" OR "suffragist" OR "suffragists" '
            'OR "votes for women" OR ("sylvia pankhurst"~5) OR '
            '("emmeline pankhurst"~5) OR ((women OR woman OR womans OR womens) '
            "AND (suffrage OR franchise OR enfranchise)) "
            'NOT CATDOCREF: "SC 8"'
        )
        n = parse_query(q)
        assert occurs(n) == [Occur.SHOULD] * 8 + [Occur.MUST_NOT]
        assert n.clauses[4][1] == PhraseNode(
            DF, (("votes",), ("for",), ("women",)), 0
        )
        nested = n.clauses[7][1]
        assert isinstance(nested, BoolNode)
        assert occurs(nested) == [Occur.MUST, Occur.MUST]

    def test_all_136_fixture_queries_parse(self):
        import json
        from pathlib import Path

        fixture = Path(__file__).parent.parent / "fixtures" / "categories.json"
        cats = json.loads(fixture.read_text())
        assert len(cats) == 136
        for c in cats:
            node = parse_query(c["query_text"])
            assert node is not None, c["category_id"]


class TestTraversal:
    """One walk over the AST: every collector and rewrite rides on
    ``children`` / ``walk`` / ``map_leaves``, so a node type one of them
    misses shows up here."""

    @staticmethod
    def _tree():
        wild = qp.WildcardNode(DF, "ship*")
        fuzzy = qp.FuzzyNode(DF, "colonel", 2)
        leaves = [
            TermNode(DF, "air"),
            OrTermsNode(DF, ("royal", "navy")),
            PhraseNode(DF, (("air",), ("force", "forces")), 1),
            wild,
            fuzzy,
            qp.TermRangeNode(DF, "a", "b", True, False),
            IntRangeNode("NUM_START_DATE", 19000101, None, True, True),
            qp.IntTermNode("SOURCE", 3),
            qp.MetaInNode("lang", ("python",)),
            qp.IdNode("c123"),
            qp.MatchAllNode(),
            qp.MatchNoneNode(),
            ExpandedTermsNode(DF, ("shipment",), wild, key=repr(wild)),
            ExpandedTermsNode(DF, None, qp.WildcardNode(DF, "*ton"), key="k"),
            ExpandedFuzzyNode(DF, ("colonels",), (0.9,), fuzzy),
            VirtualDocsNode("v", qp.IntTermNode("SOURCE", 4)),
        ]
        inner = BoolNode(
            tuple((Occur.SHOULD, leaf) for leaf in leaves[:8])
            + ((Occur.MUST_NOT, qp.BoostNode(leaves[8], 3.0)),)
        )
        tree = qp.BoostNode(qp.DisMaxNode((inner, *leaves[9:]), 0.1), 2.0)
        return tree, inner, leaves

    def test_walk_yields_each_node_once_pre_order(self):
        tree, inner, leaves = self._tree()
        nodes = list(qp.walk(tree))
        boost = inner.clauses[-1][1]
        assert [id(n) for n in nodes] == [
            id(n)
            for n in [tree, tree.child, inner, *leaves[:8], boost, leaves[8],
                      *leaves[9:]]
        ]
        assert qp.children(leaves[0]) == ()

    def test_collectors(self):
        tree, _, leaves = self._tree()
        exact, constructs, fuzzies = qp.dictionary_needs([tree])
        phrase = {(DF, "air"), (DF, "force"), (DF, "forces")}
        assert exact == phrase | {(DF, "royal"), (DF, "navy")}
        assert constructs == {leaves[3], leaves[5]}
        assert fuzzies == {leaves[4]}
        assert search.phrase_terms(tree) == phrase
        assert search.has_phrase(tree)
        assert not search.has_phrase(qp.BoostNode(leaves[0], 2.0))
        assert search.needed_terms(tree) == exact | {
            (DF, "shipment"), (DF, "colonels"), (search.VIRTUAL_FIELD, "v"),
        }
        assert search.distributed_constructs(tree) == {"k"}
        assert search.virtual_clauses(tree) == {"v": qp.IntTermNode("SOURCE", 4)}

    def test_map_leaves(self):
        tree, _, leaves = self._tree()
        assert qp.map_leaves(tree, lambda n: n) == tree
        out = qp.map_leaves(
            tree, lambda n: qp.MatchNoneNode() if isinstance(n, TermNode) else n
        )
        assert [type(n) for n in qp.walk(out)] == [
            qp.MatchNoneNode if isinstance(n, TermNode) else type(n)
            for n in qp.walk(tree)
        ]
        assert out.boost == 2.0 and out.child.tie_breaker == 0.1
        assert out.child.children[0].clauses[-1][0] is Occur.MUST_NOT

    def test_fixture_compile_fingerprint(self):
        """The 136 fixture categories' compile-time sets, pinned: needed
        terms of a compile over a vocabulary and of one with no lookups
        (every construct distributed), phrase terms, constructs, fuzzy
        constructs, virtual keys and phrase flags.  The vocabulary is every
        exact term the queries name, so wildcards and fuzzies expand to
        something.  The digest was taken from the recursive collectors
        these helpers replaced, through ``compile_queries`` over a driver
        snapshot of the same vocabulary."""
        parsed = {
            c["category_id"]: parse_query(c["query_text"], CFG)
            for c in load_categories()
        }
        exact, constructs, fuzzies = qp.dictionary_needs(parsed.values())
        vocab: dict[str, list[str]] = {}
        for f, t in sorted(exact):
            vocab.setdefault(f, []).append(t)
        expanded, fuzzy_map = search.expand_over_vocab(
            lambda f: vocab.get(f, []), constructs, fuzzies
        )
        rows = []
        for cid in sorted(parsed):
            node = parsed[cid]
            full = search.expand_tree(node, expanded, fuzzy_map)
            dist = search.expand_tree(node, {}, {})
            _, cons, fuzz = qp.dictionary_needs([node])
            rows.append([
                cid,
                sorted(search.needed_terms(full)),
                sorted(search.needed_terms(dist)),
                sorted(search.phrase_terms(full)),
                sorted(map(repr, cons)),
                sorted(search.distributed_constructs(dist)),
                sorted(map(repr, fuzz)),
                sorted(search.virtual_clauses(full)),
                search.has_phrase(full),
            ])
        digest = hashlib.sha256(json.dumps(rows, sort_keys=True).encode())
        assert digest.hexdigest() == (
            "59ebe000715165d25366adf0a8542826b7dc161213d0967e1065a81bb4530942"
        )
