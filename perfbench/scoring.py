"""Scoring of program outputs against the planted truth of the corpus.

Pure Python: the truth (`truth_cluster`, page index) stays on the
benchmark side and never reaches the program, which sees only
(doc_id, text).
"""

from __future__ import annotations

import random
from itertools import combinations
from typing import Iterable, Mapping

Pair = tuple[int, int]


def _ordered(a: int, b: int) -> Pair:
    return (a, b) if a < b else (b, a)


def cluster_pairs(doc_ids: Iterable[int], cluster_ids: Iterable[int]) -> set[Pair]:
    """Every unordered doc pair that shares a cluster id."""
    members: dict[int, list[int]] = {}
    for doc, cluster in zip(doc_ids, cluster_ids):
        members.setdefault(int(cluster), []).append(int(doc))
    return {
        _ordered(a, b)
        for docs in members.values()
        for a, b in combinations(sorted(docs), 2)
    }


def truth_dup_pairs(doc_ids: Iterable[int], truth_cluster: Iterable[int]) -> set[Pair]:
    """Planted duplicate pairs: docs with the same non-negative truth id."""
    kept = [(d, t) for d, t in zip(doc_ids, truth_cluster) if int(t) >= 0]
    return cluster_pairs([d for d, _ in kept], [t for _, t in kept])


def recall_precision(reported: set[Pair], truth: set[Pair]) -> tuple[float, float]:
    """(share of true pairs reported, share of reported pairs that are true).
    An empty side scores 0.0, so it can never pass a floor."""
    hit = len(reported & truth)
    recall = hit / len(truth) if truth else 0.0
    precision = hit / len(reported) if reported else 0.0
    return recall, precision


def planted_substring_pairs(
    doc_ids: Iterable[int],
    idxs: Iterable[int],
    texts: Iterable[str],
    min_len: int,
) -> set[Pair]:
    """Role-0 / role-3 pairs of each 8-page group whose planted shared run
    reaches `min_len` characters.

    The corpus builds a role-3 page as 30 fresh tokens followed by the
    first max(25, L // 2) tokens of its group's role-0 page (L tokens), so
    the planted run is the role-0 text's first that-many tokens joined
    by spaces; it is rebuilt here from the role-0 text itself."""
    role0: dict[int, tuple[int, str]] = {}
    role3: dict[int, int] = {}
    for doc, idx, text in zip(doc_ids, idxs, texts):
        group, role = divmod(int(idx), 8)
        if role == 0:
            role0[group] = (int(doc), text)
        elif role == 3:
            role3[group] = int(doc)
    out = set()
    for group, doc3 in role3.items():
        if group not in role0:
            continue
        doc0, text0 = role0[group]
        tokens = text0.split(" ")
        run = " ".join(tokens[: max(25, len(tokens) // 2)])
        if len(run) >= min_len:
            out.add(_ordered(doc0, doc3))
    return out


def shares_substring(a: str, b: str, min_len: int) -> bool:
    """True when `a` and `b` share a verbatim run of at least `min_len` chars."""
    if min(len(a), len(b)) < min_len:
        return False
    windows = {a[i : i + min_len] for i in range(len(a) - min_len + 1)}
    return any(b[i : i + min_len] in windows for i in range(len(b) - min_len + 1))


def sampled_substring_precision(
    pairs: list[Pair],
    texts: Mapping[int, str],
    min_len: int,
    seed: int,
    sample: int = 200,
) -> float:
    """Share of a seeded sample of reported pairs that truly share a
    ≥ min_len run, checked by brute force on the texts."""
    if not pairs:
        return 0.0
    picked = random.Random(seed).sample(sorted(pairs), min(sample, len(pairs)))
    good = sum(shares_substring(texts[a], texts[b], min_len) for a, b in picked)
    return good / len(picked)
