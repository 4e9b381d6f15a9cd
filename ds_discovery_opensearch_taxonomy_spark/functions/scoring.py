"""BM25 scoring + phrase-frequency kernels.

Target formula is Lucene/OpenSearch BM25 (the reference's OpenSearch query
path scores with the server-default BM25 similarity; reference:
OpenSearchConnection.CategoryMultiSearch:170-212, SURVEY.md §2.4 R5):

    idf(df)       = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm(tf)   = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    term score    = idf * tf_norm                     (k1=1.2, b=0.75)
    boolean score = sum of matching MUST/SHOULD clause scores
    phrase score  = (sum of idf over all phrase terms) * tf_norm(phrase_freq)
    phrase_freq   = exact adjacency count, or sloppy freq
                    sum over matches of 1 / (1 + matchLength)

Divergences from Lucene pinned deliberately (documented, consistent between
the engine and the brute-force oracle):

* document length ``dl`` is exact (Lucene stores a lossy 1-byte norm);
* multi-term (wildcard / range / numeric) queries score a constant 1.0 per
  matching doc (Lucene's constant-score rewrite);
* sloppy matching uses the advance-min window algorithm below; a match is a
  choice of one position per slot with window = max(pp) - min(pp) <= slop
  where pp = position - slot_offset.

The phrase functions here are the per-doc REFERENCE: the brute-force oracle
and the tests compare against them.  The engine does not call them; its
phrase evaluator (``operators/search.py``, ``_exact_phrase_freqs`` and
``_sloppy_phrase_freqs``) runs the same adjacency count and advance-min
window loop vectorized over every doc of an eval group at once, with
bit-identical freqs.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from ds_discovery_opensearch_taxonomy_spark.config import BM25_B, BM25_K1


def idf(df: float | np.ndarray, n_docs: float):
    """BM25 idf; accepts scalars or numpy arrays."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_norm(
    tf: float | np.ndarray,
    dl: float | np.ndarray,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))


def bm25(
    tf: float | np.ndarray,
    df: float,
    n_docs: float,
    dl: float | np.ndarray,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    return idf(df, n_docs) * tf_norm(tf, dl, avgdl, k1, b)


def max_score_upper_bound(
    tfs: np.ndarray,
    dls: np.ndarray,
    idf_value: float,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> float:
    """Per-block max BM25 contribution (block-max metadata for WAND)."""
    scores = idf_value * tf_norm(tfs.astype(np.float64), dls.astype(np.float64), avgdl, k1, b)
    return float(scores.max()) if len(scores) else 0.0


# --------------------------------------------------------------------------
# Phrase frequency
# --------------------------------------------------------------------------


def exact_phrase_freq(slot_positions: list[np.ndarray]) -> int:
    """Number of exact phrase occurrences; slot_positions[i] holds the doc
    positions (already offset-adjusted: pos - i) where slot i's terms occur."""
    acc = slot_positions[0]
    for arr in slot_positions[1:]:
        if len(acc) == 0:
            return 0
        acc = np.intersect1d(acc, arr, assume_unique=False)
    return int(len(acc))


def sloppy_phrase_freq(slot_positions: list[np.ndarray], slop: int) -> float:
    """Sloppy phrase frequency via the advance-min window algorithm.

    Each slot contributes offset-adjusted positions (pos - slot_index); a
    match picks one value per slot, matchLength = window width; every window
    <= slop contributes 1/(1+matchLength); after a match the minimum pointer
    advances (no reuse of the same minimum)."""
    k = len(slot_positions)
    if any(len(p) == 0 for p in slot_positions):
        return 0.0
    ptrs = [0] * k
    heap = [(float(slot_positions[i][0]), i) for i in range(k)]
    heapq.heapify(heap)
    cur_max = max(float(p[0]) for p in slot_positions)
    freq = 0.0
    while True:
        cur_min, i = heap[0]
        window = cur_max - cur_min
        if window <= slop:
            freq += 1.0 / (1.0 + window)
        ptrs[i] += 1
        if ptrs[i] >= len(slot_positions[i]):
            return freq
        nxt = float(slot_positions[i][ptrs[i]])
        heapq.heapreplace(heap, (nxt, i))
        cur_max = max(cur_max, nxt)


def phrase_freq(slot_positions: list[np.ndarray], slop: int) -> float:
    if slop <= 0:
        return float(exact_phrase_freq(slot_positions))
    return sloppy_phrase_freq(slot_positions, slop)


def ln(x: float) -> float:
    return math.log(x)
