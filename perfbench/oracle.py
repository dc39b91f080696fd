"""The benchmark's own oracles: exact k-NN in numpy and the curate checks.

Each check returns an empty string when the output is right and otherwise a
one-line reason; the driver counts a non-empty reason as a failed op.
"""

from __future__ import annotations

import numpy as np

#: relative distance gap under which two neighbours count as tied, so a
#: different summation order in Spark may order them either way
TIE_REL = 1e-9

#: neighbours per query
K = 10


def exact_topk(base64: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int = K):
    """Exact top-k by L2 over float64 vectors, ties broken by id.
    Returns (ids, distances)."""
    d = ((base64 - np.asarray(q, np.float64)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return ids[order], np.sqrt(d[order])


def topk_many(base64: np.ndarray, ids: np.ndarray, queries: np.ndarray):
    """Top-``K`` ids for many queries at once through one matrix product; the
    expanded form rounds differently from :func:`exact_topk`, so use it for
    recall only."""
    sq = (base64**2).sum(axis=1)
    d = sq[None, :] - 2.0 * (np.asarray(queries, np.float64) @ base64.T)
    part = np.argpartition(d, K, axis=1)[:, :K]
    return [ids[p[np.argsort(d[i, p])]] for i, p in enumerate(part)]


def same_topk(got_ids, got_d, want_ids, want_d) -> str:
    """Equal ranked lists, allowing neighbours whose oracle distances are
    tied within ``TIE_REL`` to come in either order."""
    got_ids, want_ids = [int(i) for i in got_ids], [int(i) for i in want_ids]
    if len(got_ids) != len(want_ids):
        return f"{len(got_ids)} results, expected {len(want_ids)}"
    want_d = np.asarray(want_d, np.float64)
    if not np.allclose(np.asarray(got_d, np.float64), want_d, rtol=1e-6, atol=1e-9):
        return "distances differ from the oracle"
    i = 0
    while i < len(want_ids):
        j = i + 1
        while j < len(want_ids) and want_d[j] - want_d[i] <= TIE_REL * max(want_d[i], 1.0):
            j += 1
        if sorted(got_ids[i:j]) != sorted(want_ids[i:j]):
            return f"rank {i + 1}: got {got_ids[i:j]}, expected {want_ids[i:j]}"
        i = j
    return ""


def recall(got_ids, want_ids) -> float:
    return len(set(int(i) for i in got_ids) & set(int(i) for i in want_ids)) / len(want_ids)


# ----------------------------------------------------------------------------
# curate
# ----------------------------------------------------------------------------

#: stages that run before exact dedup; a planted duplicate group may be
#: dropped whole at one of these instead
_EARLY_STAGES = ("length", "language", "repetition", "quality", "quality_model")


def check_curate(corpus: dict, kept: list[int], audit: list[tuple]) -> str:
    """``kept`` and the audit partition the input exactly; every exact_dup
    drop names a keeper with the same text and a smaller id; in every
    planted exact-duplicate group all members but the smallest id are
    dropped at ``exact_dup``, unless the group was dropped whole at one
    earlier stage."""
    ids = [int(i) for i in corpus["doc_id"]]
    audited = [int(a[0]) for a in audit]
    if len(set(kept)) != len(kept):
        return "kept has duplicate ids"
    if len(set(audited)) != len(audited):
        return "audit has duplicate ids"
    if set(kept) & set(audited):
        return "an id is both kept and audited"
    if set(kept) | set(audited) != set(ids) or len(kept) + len(audited) != len(ids):
        return "kept and audit do not cover the input exactly"
    text = dict(zip(ids, corpus["text"]))
    stage = {int(a[0]): a[1] for a in audit}
    for doc, st, detail in audit:
        if st == "exact_dup":
            keeper = int(str(detail).split("=")[1])
            if keeper >= doc or text[keeper] != text[doc]:
                return f"doc {doc} dropped as exact_dup of {keeper}"
    for group in corpus["exact_groups"]:
        first, rest = min(group), sorted(group)[1:]
        early = stage.get(first)
        if early in _EARLY_STAGES:
            if any(stage.get(d) != early for d in rest):
                return f"group {sorted(group)} split across early stages"
        elif any(stage.get(d) != "exact_dup" for d in rest):
            return f"planted duplicate of {first} not dropped at exact_dup"
    return ""
