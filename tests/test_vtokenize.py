"""Differential tests: vectorized unique-span tokenizer vs the per-row
reference semantics (functions/analysis.py applied doc-at-a-time).

The vectorized path (functions/vtokenize.py) must produce byte-identical
postings — (term_id, doc_id, tf, dl, positions) — to running
``analysis.analyze`` per document and aggregating per (doc, term), for every
analyzer chain.  Reference semantics: Lucene analyzer chains per
IAViewTextNoCasNoPuncAnalyser.cs:65-91 etc. (SURVEY.md §1.4).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from ds_discovery_opensearch_taxonomy_spark.config import (
    TEXT_CAS_NO_PUNC,
    TEXT_CAS_PUNC,
    TEXT_GEN,
    TEXT_NO_CAS_NO_PUNC,
)
from ds_discovery_opensearch_taxonomy_spark.functions import analysis, codec
from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
    ChunkTokenizer,
    term_id_of,
)
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    AIR_DOC,
    STRESS_FRAGMENTS,
)

ANALYZERS = [TEXT_NO_CAS_NO_PUNC, TEXT_GEN, TEXT_CAS_NO_PUNC, TEXT_CAS_PUNC]


def reference_postings(analyzer: str, field: str, texts: list[str]):
    """Per-row oracle: analyze each doc independently, aggregate (doc, term).
    Returns {(doc_idx, term_id): (tf, dl, positions)}."""
    out = {}
    for i, text in enumerate(texts):
        toks = analysis.analyze(analyzer, text or "")
        if not toks:
            continue
        per_term: dict[str, list[int]] = {}
        for term, pos in toks:
            per_term.setdefault(term, []).append(pos)
        dl = len(toks)
        for term, poss in per_term.items():
            out[(i, term_id_of(field, term))] = (len(poss), dl, poss)
    return out


def vectorized_postings(analyzer: str, field: str, texts: list[str]):
    tok = ChunkTokenizer([(field, analyzer, ["content"])])
    doc_ids = np.arange(len(texts), dtype=np.int64)
    results = tok.tokenize({"content": texts}, doc_ids)
    out = {}
    for r in results:
        tfs = r["tf"]
        offs, flat = codec.decode_positions(
            tfs, b""  # placeholder, decoded below
        ) if False else (None, None)
        # decode the chunk position stream per posting
        bounds = r["pos_bounds"]
        for j in range(len(r["term_id"])):
            blob = r["pos_data"][int(bounds[j]) : int(bounds[j + 1])]
            deltas = codec.varbyte_decode(blob).astype(np.int64)
            poss = np.cumsum(deltas).tolist()
            out[(int(r["doc_id"][j]), int(r["term_id"][j]))] = (
                int(tfs[j]),
                int(r["dl"][j]),
                poss,
            )
    return out


def _fuzz_texts(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    pieces = list(STRESS_FRAGMENTS) + [
        AIR_DOC,
        "foo.bar.baz", "a@b.com", "1.2.3", "x_y_z", "U.S.A.", "end.",
        "'quoted'", "--", "...", ",lead", "trail,", "é", "Ångström",
        "naïve café", "ABCDef", "camelCase", "snake_case", "100x200",
        "3/4", "a,b,,c", "don’t", "O'Neil's", "MI5's", "日本語", "漢字123",
        "x1,000,000", "wi-fi", "e.e.c.", "A&B", "p@q", "​zero​width",
        "tab\tsep", "new\nline", "", " ", "  double  space ",
    ]
    words = ["alpha", "beta", "Gamma", "DELTA", "x12", "99", "the", "of"]
    texts = []
    for _ in range(n):
        k = rng.randint(0, 30)
        toks = [
            rng.choice(pieces) if rng.random() < 0.4 else rng.choice(words)
            for _ in range(k)
        ]
        texts.append(" ".join(toks))
    return texts


@pytest.mark.parametrize("analyzer", ANALYZERS)
def test_vectorized_matches_reference_fuzz(analyzer):
    texts = _fuzz_texts(seed=hash(analyzer) % 1000, n=120)
    ref = reference_postings(analyzer, "f", texts)
    vec = vectorized_postings(analyzer, "f", texts)
    assert set(ref) == set(vec)
    for key in ref:
        assert ref[key] == vec[key], (key, ref[key], vec[key])


def test_vectorized_multi_column_join_matches_space_concat():
    """Multi-source-column fields must behave like the reference's copy_to
    with a single-space join (InMemoryCategoriserRepository.cs:260-313)."""
    contents = ["alpha beta", "Czech-oslovakia report", "", "end."]
    paths = ["src/WO_12/x.py", "AIR 37/177", "p", ""]
    tok = ChunkTokenizer([("f", TEXT_NO_CAS_NO_PUNC, ["content", "path"])])
    results = tok.tokenize(
        {"content": contents, "path": paths},
        np.arange(len(contents), dtype=np.int64),
    )
    joined = [f"{c} {p}" for c, p in zip(contents, paths)]
    ref = reference_postings(TEXT_NO_CAS_NO_PUNC, "f", joined)
    vec = {}
    for r in results:
        bounds = r["pos_bounds"]
        for j in range(len(r["term_id"])):
            blob = r["pos_data"][int(bounds[j]) : int(bounds[j + 1])]
            poss = np.cumsum(codec.varbyte_decode(blob).astype(np.int64)).tolist()
            vec[(int(r["doc_id"][j]), int(r["term_id"][j]))] = (
                int(r["tf"][j]),
                int(r["dl"][j]),
                poss,
            )
    assert ref == vec


def test_cache_reuse_across_chunks_is_consistent():
    """Second chunk through the same ChunkTokenizer (warm caches) must give
    identical postings to a cold tokenizer."""
    texts = _fuzz_texts(seed=7, n=60)
    warm = ChunkTokenizer([("f", TEXT_NO_CAS_NO_PUNC, ["content"])])
    warm.tokenize({"content": texts}, np.arange(len(texts), dtype=np.int64))

    def collect(tok):
        rs = tok.tokenize({"content": texts}, np.arange(len(texts), dtype=np.int64))
        return {
            (int(d), int(t)): (int(tf), int(dl))
            for r in rs
            for d, t, tf, dl in zip(r["doc_id"], r["term_id"], r["tf"], r["dl"])
        }

    cold = ChunkTokenizer([("f", TEXT_NO_CAS_NO_PUNC, ["content"])])
    assert collect(warm) == collect(cold)


def test_span_cache_reset_preserves_tid_terms():
    """A mid-partition span-cache reset (max_spans exceeded) must keep the
    tid -> term map intact: _pack_field_runs and the streaming vocab
    recovery resolve tids accumulated BEFORE the reset only at
    partition/batch end (ADVICE r2: deferred lookup turned the safety valve
    into a KeyError crash)."""
    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        FieldSpanCache,
    )

    cache = FieldSpanCache("f", TEXT_NO_CAS_NO_PUNC, max_spans=4)
    first = np.asarray(["alpha", "beta", "gamma"], dtype=object)
    uids1 = cache.uid_lut(first)
    tids_before = {cache.tids.view()[int(cache.starts.view()[u])] for u in uids1}
    # exceed max_spans -> next uid_lut call resets the SPAN cache
    cache.uid_lut(np.asarray(["d1", "d2", "d3", "d4", "d5"], dtype=object))
    assert len(cache.slot) > cache.max_spans
    cache.uid_lut(np.asarray(["omega"], dtype=object))  # triggers reset
    assert "alpha" not in cache.slot  # span cache really was cleared
    # ...but every earlier tid still resolves to its term string
    for tid in tids_before:
        assert cache.tid_term[int(tid)] in {"alpha", "beta", "gamma"}
    # and re-seen spans reuse the SAME tid (term map is the authority)
    uids2 = cache.uid_lut(first)
    tids_after = {cache.tids.view()[int(cache.starts.view()[u])] for u in uids2}
    assert tids_after == tids_before


def test_streaming_wildcard_prefix_successor():
    """Prefix bisect must include vocabulary terms containing
    supplementary-plane characters (> U+FFFF) after the literal prefix."""
    from ds_discovery_opensearch_taxonomy_spark.operators.search import (
        _expand_wildcard,
        _prefix_successor,
    )

    vocab = sorted(["cat", "cat\U0001F600x", "cat￿z", "cub", "dog"])
    assert set(_expand_wildcard(vocab, "cat*")) == {
        "cat", "cat\U0001F600x", "cat￿z"
    }
    assert set(_expand_wildcard(vocab, "c*b")) == {"cub"}
    assert _prefix_successor("ab") == "ac"
    assert _prefix_successor("a\U0010FFFF") == "b"
    assert _prefix_successor("\U0010FFFF") is None


def test_fast_span_predicate_matches_full_chain():
    """Contract of FieldSpanCache._add_batch's fast path: any span matching
    _FAST_SPAN must expand to exactly [(span, 1)] under EVERY classic chain
    (and every whitespace-kind span does under textcaspunc)."""
    import itertools
    import random as _random

    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        _FAST_SPAN,
        analyze_span_slots,
    )

    rng = _random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    spans = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ] + [str(rng.randint(0, 10**12)) for _ in range(100)]
    # shapes that must NOT take the fast path
    spans += ["abc123", "ABC", "Abc", "a.b", "a-b", "x'y", "é", "a_b", ""]
    for analyzer in ANALYZERS:
        if analyzer == "textcaspunc":
            continue  # whitespace kind: trivial for ALL spans by chain def
        for s in spans:
            if not s:
                continue
            if _FAST_SPAN.match(s):
                terms, incs = analyze_span_slots(analyzer, s)
                assert list(terms) == [s] and incs.tolist() == [1], (
                    analyzer,
                    s,
                    terms,
                )
    # exhaustive over all 2-char lowercase/digit combos, every classic chain
    chars = alpha + "0123456789"
    for a, b in itertools.product(chars, repeat=2):
        s = a + b
        if _FAST_SPAN.match(s):
            for analyzer in ANALYZERS:
                if analyzer == "textcaspunc":
                    continue
                terms, incs = analyze_span_slots(analyzer, s)
                assert list(terms) == [s] and incs.tolist() == [1], (
                    analyzer,
                    s,
                )
