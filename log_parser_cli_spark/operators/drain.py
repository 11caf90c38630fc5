"""Drain-style prefix-tree clustering over *distinct masked signatures*.

Replaces the reference's LLM template-discovery oracle (its ParsingAgent,
src/agents/implementations/parsing-agent.ts) with the classic Drain algorithm
(He et al., "Drain: An Online Log Parsing Approach with Fixed Depth Tree",
ICWS 2017 — public method, fresh implementation).

Scale note: this runs on the driver over the DISTINCT (source, signature) set,
which is orders of magnitude smaller than the row count (hundreds per source,
even at 10^12 rows the distinct-signature reduction is a cheap pre-aggregation
shuffle). The per-row path never touches this code — rows are joined to the
resulting signature→template mapping by hash.

Determinism: signatures are inserted in (first_seen, signature) order, so
template ids are stable across runs and cluster sizes — a north_rule
requirement (discovery-order-dependent ids in the reference,
sqlite-template-manager.ts:95, are made deterministic here).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from log_parser_cli_spark.functions.masking import MASK_TOKENS, signature_to_star

WILDCARD = "\x00*\x00"
_MASK_SET = set(MASK_TOKENS.values())
DEPTH = 3  # tree levels: the length level, then DEPTH - 1 leading tokens
SIM_THRESHOLD = 0.6  # fraction of positions that must agree to merge
MAX_CHILDREN = 64  # token-level branch cap; overflow shares a wildcard child


def _is_wild(word: str) -> bool:
    return word == WILDCARD or word in _MASK_SET or "\x00" in word


@dataclass
class DrainCluster:
    cluster_id: int
    template_words: list[str]  # literals + mask tokens + WILDCARD
    signatures: list[str] = field(default_factory=list)
    n_rows: int = 0
    first_seen: int = 0

    @property
    def template_star(self) -> str:
        return signature_to_star(
            " ".join(WILDCARD if w == WILDCARD else w for w in self.template_words)
        ).replace(WILDCARD, "<*>")


class DrainTree:
    """Fixed-depth prefix tree: length → first tokens → similarity search.

    ``SIM_THRESHOLD`` is the fraction of positions that must agree (wildcards
    in the cluster template count as agreement, mirroring Drain's simSeq).
    """

    def __init__(self):
        self._root: dict = {}
        self.clusters: list[DrainCluster] = []

    def _leaf_for(self, words: list[str], create: bool) -> list[DrainCluster] | None:
        # Single descend loop: the branch cap must be checked against the
        # ACTUAL sibling dict at each level (an unseen key in a full dict
        # falls back to the shared WILDCARD child), so keys are resolved
        # while walking, not precomputed against the root.
        key_seq: list[object] = [len(words)]
        for i in range(min(DEPTH - 1, len(words))):
            w = words[i]
            key_seq.append(WILDCARD if _is_wild(w) else w)
        node = self._root
        for j, key in enumerate(key_seq):
            last = j == len(key_seq) - 1
            # Drain's branch cap (token levels only, never the length level):
            # overflowing distinct heads share a wildcard child.
            if j > 0 and key not in node and len(node) >= MAX_CHILDREN:
                key = WILDCARD
            child = node.get(key)
            if child is None:
                if not create:
                    return None
                child = [] if last else {}
                node[key] = child
            node = child
        return node

    def _similarity(self, template: list[str], words: list[str]) -> float:
        if len(template) != len(words):
            return 0.0
        if not template:
            return 1.0
        same = 0
        for t, w in zip(template, words):
            if t == WILDCARD or t == w:
                same += 1
        return same / len(template)

    def add_signature(self, sig: str, n_rows: int = 1, first_seen: int = 0) -> DrainCluster:
        words = sig.split(" ") if sig else []
        leaf = self._leaf_for(words, create=True)
        assert leaf is not None
        best, best_sim = None, -1.0
        for cluster in leaf:
            sim = self._similarity(cluster.template_words, words)
            if sim > best_sim:
                best, best_sim = cluster, sim
        if best is not None and best_sim >= SIM_THRESHOLD:
            # Merge: disagreeing positions become wildcards.
            best.template_words = [
                t if (t == WILDCARD or t == w) else WILDCARD
                for t, w in zip(best.template_words, words)
            ]
            best.signatures.append(sig)
            best.n_rows += n_rows
            best.first_seen = min(best.first_seen, first_seen)
            return best
        cluster = DrainCluster(
            cluster_id=len(self.clusters),
            template_words=list(words),
            signatures=[sig],
            n_rows=n_rows,
            first_seen=first_seen,
        )
        self.clusters.append(cluster)
        leaf.append(cluster)
        return cluster


def _merge_pass(clusters: list[DrainCluster]) -> list[DrainCluster]:
    """Cross-leaf merge: the fixed-depth tree oversplits when a variable word
    sits inside the prefix-key positions; a final O(k²)-on-k-clusters pass
    (k = cluster count, tiny) folds such clusters together. Wildcards count as
    agreement; only equal-length templates merge. Deterministic: clusters are
    visited in creation order."""
    merged: list[DrainCluster] = []
    for c in sorted(clusters, key=lambda c: c.cluster_id):
        target = None
        for m in merged:
            if len(m.template_words) != len(c.template_words):
                continue
            same = sum(
                1
                for t, w in zip(m.template_words, c.template_words)
                if t == w or t == WILDCARD or w == WILDCARD
            )
            if len(m.template_words) == 0 or same / len(m.template_words) >= SIM_THRESHOLD:
                target = m
                break
        if target is None:
            merged.append(c)
            continue
        target.template_words = [
            t if t == w else WILDCARD for t, w in zip(target.template_words, c.template_words)
        ]
        target.signatures.extend(c.signatures)
        target.n_rows += c.n_rows
        target.first_seen = min(target.first_seen, c.first_seen)
    for idx, c in enumerate(merged):
        c.cluster_id = idx
    return merged


def cluster_signatures(sig_rows: list[tuple[str, int, int]]) -> list[DrainCluster]:
    """Cluster distinct signatures of ONE source.

    ``sig_rows``: (signature, n_rows, first_seen) — inserted in deterministic
    (first_seen, signature) order so ids are reproducible.
    """
    tree = DrainTree()
    for sig, n_rows, first_seen in sorted(sig_rows, key=lambda r: (r[2], r[0])):
        tree.add_signature(sig, n_rows, first_seen)
    return _merge_pass(tree.clusters)
