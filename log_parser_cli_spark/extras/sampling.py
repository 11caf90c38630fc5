"""Diverse sample selection for head derivation (O5).

Mirrors the reference's DiverseSampler (src/core/diverse-sampler.ts): greedy
k-center max-min Jaccard selection over a small pool on the driver
(discovery-time only, never on the fact stream), picking samples that
maximize the minimum pairwise distance. The pool itself is stride-thinned by
``operators/head_derive.stride_pool_collect`` (O4).
"""

from __future__ import annotations

import re

_TOKEN_RX = re.compile(r"[^a-z0-9]+")


def _tokens(line: str) -> frozenset[str]:
    return frozenset(t for t in _TOKEN_RX.split(line.lower()) if t)


def jaccard_distance(a: frozenset[str], b: frozenset[str]) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return 1.0 - (inter / union if union else 0.0)


def k_center_select(lines: list[str], k: int) -> list[str]:
    """Greedy max-min Jaccard-distance selection (k-center heuristic).

    Deterministic: starts from the first line, ties break on list order.
    Driver-side by design — input is the ≤200-row thinned pool.
    """
    if len(lines) <= k:
        return list(lines)
    token_sets = [_tokens(line) for line in lines]
    selected = [0]
    min_dist = [jaccard_distance(token_sets[0], ts) for ts in token_sets]
    while len(selected) < k:
        best_i = max(range(len(lines)), key=lambda i: (min_dist[i], -i))
        if min_dist[best_i] <= 0.0:
            break
        selected.append(best_i)
        for i, ts in enumerate(token_sets):
            d = jaccard_distance(token_sets[best_i], ts)
            if d < min_dist[i]:
                min_dist[i] = d
    return [lines[i] for i in sorted(selected)]

