"""Correctness checks run after the timed region.

Each check compares two independent routes to the same answer and
returns ``(name, ok, detail)``; the caller counts every check as one
attempted operation and every failed one as one failure.
"""

from __future__ import annotations

import hashlib

#: single-doc oracle scores must equal the distributed path's to this
SCORE_TOL = 1e-9

#: exact figures for (size, workload, seed): docs matched by the 136
#: category queries summed over categories, scored top-100 rows, and a
#: hash of the sorted per-doc category lists
PINNED = {
    ("smoke", "reindex", 1): {
        "bool_matches": 2036,
        "scored_rows": 1876,
        "results_sha": "9b69c2041b00286379317f29c96dd11681c100b3ac02f42e682a89ebe325d781",
    },
    ("full", "reindex", 1): {
        "bool_matches": 5547,
        "scored_rows": 2964,
        "results_sha": "30ff201cb6de90e09398f784e918365285fd5167e039a69682ec6ff207100319",
    },
}


def per_doc(rows) -> dict[int, tuple[str, ...]]:
    return {int(r["doc_id"]): tuple(sorted(r["category_ids"])) for r in rows}


def results_sha(cats: dict[int, tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for doc_id in sorted(cats):
        h.update(f"{doc_id}:{','.join(cats[doc_id])}\n".encode())
    return h.hexdigest()


def same_categories(name: str, got: dict, want: dict):
    diff = [d for d in set(got) | set(want) if got.get(d) != want.get(d)]
    return name, not diff, f"{len(diff)} of {len(want)} docs differ"


def scored_within_bool(cats: dict, scored_rows, top_k: int):
    """Scored top-k per category is the k best of the bool match set:
    every scored pair is a bool match and each category returns
    min(k, matches) rows."""
    matches: dict[str, set[int]] = {}
    for doc_id, cids in cats.items():
        for cid in cids:
            matches.setdefault(cid, set()).add(doc_id)
    got: dict[str, int] = {}
    stray = 0
    for r in scored_rows:
        got[r["category_id"]] = got.get(r["category_id"], 0) + 1
        stray += int(r["doc_id"]) not in matches.get(r["category_id"], ())
    short = sum(
        got.get(cid, 0) != min(top_k, len(ids)) for cid, ids in matches.items()
    )
    ok = stray == 0 and short == 0 and set(got) <= set(matches)
    return "scored_top_k_within_bool", ok, f"{stray} stray rows, {short} categories with wrong row count"


def oracle_sample(engine, rows: list[dict], cats: dict, scores: dict):
    """The driver-side single-doc oracle (global index stats) against the
    distributed or batch path: same categories, and the same BM25 score
    wherever the distributed scored path returned the pair."""
    bad_cats = bad_scores = compared = 0
    for res in engine.categorise_docs(rows, scored=True):
        doc_id = int(res["doc_id"])
        if tuple(sorted(c["category_id"] for c in res["categories"])) != cats.get(doc_id):
            bad_cats += 1
        for c in res["categories"]:
            want = scores.get((c["category_id"], doc_id))
            if want is not None:
                compared += 1
                bad_scores += abs(c["score"] - want) > SCORE_TOL
    ok = bad_cats == 0 and bad_scores == 0
    return "oracle_sample", ok, (
        f"{bad_cats} of {len(rows)} docs with other categories, "
        f"{bad_scores} of {compared} scores off by > {SCORE_TOL}"
    )


def same_signatures(signatures: dict):
    """Every request sent more than once against one index state (by
    either client) got the same answer each time."""
    repeated = [sigs for sigs in signatures.values() if len(sigs) > 1]
    bad = sum(len(set(sigs)) > 1 for sigs in repeated)
    return "same_answer_across_clients", bad == 0, f"{bad} of {len(repeated)} repeated requests differ"


def pinned(key, bool_matches: int, scored_rows: int, sha: str):
    want = PINNED.get(key)
    if want is None:
        return None
    got = {"bool_matches": bool_matches, "scored_rows": scored_rows, "results_sha": sha}
    return "pinned_figures", got == want, f"got {got}"
