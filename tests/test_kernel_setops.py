"""Property tests for the round-5 eval-kernel set-op primitives against
their numpy reference implementations — these replaced
np.intersect1d/np.isin/np.union1d in every hot path, so a subtle
off-by-one in the searchsorted forms would corrupt match sets silently."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ds_discovery_opensearch_taxonomy_spark.operators.search import (
    _andnot,
    _intersect_add,
    _intersect_sorted,
    _member_mask,
    _union_add_many,
    _union_ids_many,
)

ids_arrays = st.lists(
    st.integers(min_value=-(2**40), max_value=2**40), max_size=60
).map(lambda xs: np.unique(np.array(xs, dtype=np.int64)))


@given(ids_arrays, ids_arrays)
@settings(max_examples=200, deadline=None)
def test_member_mask_matches_isin(a, b):
    mask, idx = _member_mask(a, b)
    ref = np.isin(a, b, assume_unique=True)
    assert (mask == ref).all()
    # positions are correct wherever the mask is set
    if mask.any():
        assert (b[idx[mask]] == a[mask]).all()


@given(ids_arrays, ids_arrays)
@settings(max_examples=200, deadline=None)
def test_intersect_sorted_matches_intersect1d(a, b):
    got = _intersect_sorted(a, b)
    ref = np.intersect1d(a, b, assume_unique=True)
    assert (got == ref).all()


@given(ids_arrays, ids_arrays)
@settings(max_examples=200, deadline=None)
def test_intersect_add_matches_reference(a, b):
    sa = np.arange(len(a), dtype=np.float64) + 1.0
    sb = np.arange(len(b), dtype=np.float64) * 2.0 + 1.0
    ids, sc = _intersect_add(a, sa, b, sb)
    common, ia, ib = np.intersect1d(
        a, b, assume_unique=True, return_indices=True
    )
    order = np.argsort(common)
    assert (ids == common[order]).all()
    assert np.allclose(sc, (sa[ia] + sb[ib])[order])


@given(ids_arrays, ids_arrays)
@settings(max_examples=200, deadline=None)
def test_andnot_matches_reference(a, b):
    sa = np.arange(len(a), dtype=np.float64)
    ids, sc = _andnot(a, sa, b)
    keep = ~np.isin(a, b, assume_unique=True)
    assert (ids == a[keep]).all()
    assert (sc == sa[keep]).all()


@given(st.lists(ids_arrays, max_size=8))
@settings(max_examples=150, deadline=None)
def test_union_add_many_matches_iterative(parts):
    pairs = [
        (p, (np.arange(len(p), dtype=np.float64) + 0.5) * (i + 1))
        for i, p in enumerate(parts)
    ]
    ids, sc = _union_add_many(pairs)
    # reference: dict accumulation
    acc: dict[int, float] = {}
    for p, s in pairs:
        for v, x in zip(p.tolist(), s.tolist()):
            acc[v] = acc.get(v, 0.0) + x
    ref_ids = np.array(sorted(acc), dtype=np.int64)
    assert (ids == ref_ids).all()
    assert np.allclose(sc, [acc[v] for v in ref_ids.tolist()])


@given(st.lists(ids_arrays, max_size=8))
@settings(max_examples=150, deadline=None)
def test_union_ids_many_matches_union1d(parts):
    got = _union_ids_many(parts)
    ref = np.array([], dtype=np.int64)
    for p in parts:
        ref = np.union1d(ref, p)
    assert (got == ref).all()


def _mk_evaluator(term_positions, scored, *, dls=None, mode="eager",
                  dead=()):
    """Evaluator with the decode cache seeded directly (no Spark rows):
    term_positions = {term: {doc_ord: [positions...]}}.

    ``mode`` picks how positions reach the evaluator: ``"eager"`` builds
    decoded (offsets, flat) arrays, ``"raw"`` hands over the encoded
    posdata stream for the lazy decode, and ``"rows"`` encodes one postings
    block per term and lets the evaluator decode it — the path that drops
    the tombstoned ``dead`` ords.  ``dls`` gives per-ord field lengths."""
    from ds_discovery_opensearch_taxonomy_spark.functions import codec
    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        term_id_of,
    )
    from ds_discovery_opensearch_taxonomy_spark.operators.search import (
        _Evaluator,
        _TermData,
    )

    tid_map = {}
    rows_by_term = {}
    df_map = {("text", t): len(docs) for t, docs in term_positions.items()}
    ev = _Evaluator(
        rows_by_term=rows_by_term, df_map=df_map, n_docs=1000.0, k1=1.2,
        b=0.75, avgdl={"text": 10.0}, scored=scored, needs_pos=True,
        tid_map=tid_map,
        dl_by_field=None if dls is None else {"text": np.asarray(dls)},
        dead=np.array(sorted(dead), dtype=np.int64),
    )
    for term, docs in term_positions.items():
        tid = term_id_of("text", term)
        tid_map[("text", term)] = tid
        ids = np.array(sorted(docs), dtype=np.int64)
        pos_lists = [sorted(set(docs[d])) for d in ids.tolist()]
        tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
        if mode == "rows":
            rows_by_term[tid] = pd.DataFrame({
                "blk_seq": [0], "salt": [0], "n": [len(ids)],
                "docids": [codec.encode_docids(ids, base=None)],
                "tfs": [codec.varbyte_encode(tfs.astype(np.uint64))],
                "posdata": [codec.encode_positions(pos_lists)],
            })
            continue
        if mode == "raw":
            ev.terms[tid] = _TermData(
                ids, tfs, None, None,
                pos_raw=codec.encode_positions(pos_lists), full_tfs=tfs,
            )
            continue
        po = np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64)
        pf = (
            np.concatenate([np.array(p, dtype=np.int64) for p in pos_lists])
            if pos_lists
            else np.empty(0, dtype=np.int64)
        )
        ev.terms[tid] = _TermData(ids, tfs, po, pf)
    return ev


def _reference_phrase(tp, slots, slop, dls, dead=()):
    """Per-doc reference: ``scoring.phrase_freq`` over each doc's
    offset-adjusted slot positions, scored as the oracle scores a phrase.
    Returns {ord: score} for the docs with a non-zero freq."""
    from ds_discovery_opensearch_taxonomy_spark.functions import scoring

    idf_sum = sum(
        float(scoring.idf(float(len(tp.get(t, {}))), 1000.0))
        for slot in slots
        for t in slot
    )
    docs = {d for t in tp.values() for d in t} - set(dead)
    out = {}
    for d in sorted(docs):
        slot_positions = []
        for i, slot in enumerate(slots):
            merged = {p - i for t in slot for p in tp.get(t, {}).get(d, ())}
            if not merged:
                break
            slot_positions.append(np.array(sorted(merged), dtype=np.int64))
        else:
            freq = scoring.phrase_freq(slot_positions, slop)
            if freq > 0:
                out[d] = idf_sum * scoring.tf_norm(
                    freq, float(dls[d]), 10.0, 1.2, 0.75
                )
    return out


_VOCAB = ["alpha", "beta", "gamma", "delta"]


@st.composite
def _phrase_cases(draw):
    """Random phrases over a small vocabulary: 2-4 slots, a slot may hold
    two alternative terms, a term may fill several slots; 1-7 docs with
    dense small positions so windows overlap and tie often."""
    n_docs = draw(st.integers(min_value=1, max_value=7))
    tp = draw(
        st.dictionaries(
            st.sampled_from(_VOCAB),
            st.dictionaries(
                st.integers(min_value=0, max_value=n_docs - 1),
                st.lists(
                    st.integers(min_value=0, max_value=14),
                    min_size=1, max_size=6,
                ),
                min_size=1, max_size=n_docs,
            ),
            min_size=1, max_size=4,
        )
    )
    term = st.sampled_from(sorted(tp))
    slots = draw(
        st.lists(
            st.lists(term, min_size=1, max_size=2, unique=True).map(tuple),
            min_size=2, max_size=4,
        )
    )
    slop = draw(st.integers(min_value=0, max_value=5))
    dls = draw(
        st.lists(
            st.integers(min_value=1, max_value=30),
            min_size=n_docs, max_size=n_docs,
        )
    )
    mode = draw(st.sampled_from(["eager", "raw", "rows"]))
    dead = (
        draw(st.sets(st.integers(min_value=0, max_value=n_docs - 1)))
        if mode == "rows"
        else set()
    )
    return tp, tuple(slots), slop, dls, mode, dead


@given(_phrase_cases())
@settings(max_examples=1000, deadline=None)
def test_sloppy_phrase_bool_existence_matches_advance_min(case):
    """DIFFERENTIAL: the one vectorized phrase kernel, bool and scored
    mode, against the per-doc ``scoring.phrase_freq`` reference (the
    advance-min loop for slop > 0, the adjacency count for slop 0): the
    same docs in both modes, and every scored phrase score bit-identical
    to ``idf_sum * tf_norm(freq)`` computed per doc."""
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import (
        PhraseNode,
    )

    tp, slots, slop, dls, mode, dead = case
    node = PhraseNode("text", slots, slop=slop)
    ref = _reference_phrase(tp, slots, slop, dls, dead)

    def run(scored):
        return _mk_evaluator(
            tp, scored, dls=dls, mode=mode, dead=dead
        )._eval_phrase(node)

    ids_bool, sc_bool = run(False)
    ids_scored, sc_scored = run(True)
    assert ids_bool.tolist() == ids_scored.tolist() == sorted(ref)
    assert (sc_bool == 0).all()
    assert sc_scored.tolist() == [ref[d] for d in sorted(ref)]


def test_phrase_lazy_positions_decode_on_demand():
    """Positions handed over raw decode only when the docid pregate
    leaves candidates, and then score as the reference does."""
    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
        term_id_of,
    )
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import (
        PhraseNode,
    )

    tp = {
        "alpha": {0: [1, 7], 2: [3], 4: [0, 2]},
        "beta": {0: [2, 9], 2: [7], 4: [4]},
        "gamma": {1: [0]},
    }
    dls = [5, 6, 7, 8, 9]

    def tds(ev):
        return [ev.terms[term_id_of("text", t)] for t in tp]

    # no doc holds both alpha and gamma: the pregate returns undecoded
    ev = _mk_evaluator(tp, True, dls=dls, mode="raw")
    ids, _ = ev._eval_phrase(PhraseNode("text", (("alpha",), ("gamma",))))
    assert len(ids) == 0
    assert all(td._po is None for td in tds(ev))

    node = PhraseNode("text", (("alpha",), ("beta",)), slop=2)
    ev = _mk_evaluator(tp, True, dls=dls, mode="raw")
    ids, sc = ev._eval_phrase(node)
    assert all(td._po is not None for td in tds(ev)[:2])
    ref = _reference_phrase(tp, node.slots, 2, dls)
    assert ids.tolist() == sorted(ref) == [0, 4]
    assert sc.tolist() == [ref[d] for d in sorted(ref)]
