"""Deterministic head-pattern derivation + coverage-refine loop.

The reference derives each library's head regex — one pattern that splits every
line into head + ``(?<content>...)`` — by asking an LLM HeadAgent for
candidates and iteratively refining: seed with ≤10 diverse samples, evaluate
coverage, add ≤3 new diverse samples from the unmatched set each round, keep
the best-coverage candidate, ≤20 rounds
(/root/reference/src/core/head-pattern/manager.ts:83-186).

This module reimplements that loop with a deterministic candidate generator in
place of the LLM (everything else mirrors the reference's control flow):

- ``propose_head_pattern``: generalize the common structural prefix of the
  samples. Each line is split into words; the head is the maximal prefix of
  positions that are either CONSTANT across samples or share a structural
  "shape skeleton" (same arrangement of symbol characters, alphanumeric runs
  generalized to char-class unions — the same generalization idea as the
  reference's value-shape inference, regex-builder.ts:130-161). A non-constant
  position whose merged shape is a bare lowercase word is treated as content
  (lexical message text), ending the head. Noise robustness: the skeleton of
  word 0 partitions the samples and the LARGEST group drives derivation, so a
  minority of garbage lines cannot collapse the head to zero width.
- ``refine_head_pattern``: the manager.ts keep-best loop — seed via k-center
  diverse sampling (O5), score candidates by unmatched count over the pool,
  accept only non-worse candidates, stop at full coverage, a repeated
  candidate, or the round cap.
- ``stride_pool_collect`` / ``derive_heads_stage``: Spark wrappers — a
  deterministic hash-thinned pool (≤``POOL_SIZE`` rows, map-side filter on a
  portable hash of the order key, residue-only sort — never a full-corpus
  rank) is collected per source, the refine loop runs driver-side
  (discovery-time, like the reference's agent loop), and the FINAL pattern's
  coverage is validated distributed through ``match_templates`` (P5). At
  10^12 rows the full-scan coverage check runs once, not per round.

Patterns are emitted in the matcher's one dialect and scored with its
``compile_regex``; words are classified in ASCII, as RE2 reads them.
"""

from __future__ import annotations

import re
from collections import Counter

from log_parser_cli_spark.extras.sampling import k_center_select
from log_parser_cli_spark.functions.templates import escape_regex_text
from log_parser_cli_spark.operators.matcher import compile_regex

MAX_REFINE_ROUNDS = 20  # manager.ts:84
SEED_SAMPLES = 10  # manager.ts:45 (diverse-sampler picks)
NEW_PICKS_PER_ROUND = 3  # manager.ts:112
POOL_SIZE = 2000  # lines per source the refine loop reads

_ALNUM = re.compile(r"[A-Za-z0-9]+")


def _runs(word: str) -> list[str]:
    """Split a word into maximal alphanumeric runs and single symbol chars."""
    out: list[str] = []
    i = 0
    while i < len(word):
        m = _ALNUM.match(word, i)
        if m:
            out.append(m.group(0))
            i = m.end()
        else:
            out.append(word[i])
            i += 1
    return out


def _skeleton(word: str) -> tuple:
    """Structural skeleton: symbol chars verbatim, alnum runs as None slots."""
    return tuple(None if _ALNUM.match(r) else r for r in _runs(word))


def _seg_classes(seg: str) -> frozenset[str]:
    classes = set()
    for ch in seg:
        if "0" <= ch <= "9":
            classes.add("D")
        elif "A" <= ch <= "Z":
            classes.add("U")
        else:
            classes.add("L")
    return frozenset(classes)


_CLASS_REGEX = {
    frozenset("D"): r"\d+",
    frozenset("U"): "[A-Z]+",
    frozenset("L"): "[a-z]+",
    frozenset("UL"): "[A-Za-z]+",
    frozenset("DL"): "[a-z0-9]+",
    frozenset("DU"): "[A-Z0-9]+",
    frozenset("DUL"): "[A-Za-z0-9]+",
}


def _merge_position(values: list[str]) -> str | None:
    """Generalize one word position across samples → regex fragment or None.

    Constant → escaped literal. Same skeleton → symbols verbatim (escaped),
    each alnum slot mapped to the union char class of everything seen there.
    A bare lowercase/mixed-alpha word (no symbols, single run containing
    lowercase) is message text, not head structure → None. Mixed skeletons →
    None (content boundary).
    """
    distinct = set(values)
    if len(distinct) == 1:
        return escape_regex_text(values[0])
    skels = {_skeleton(v) for v in distinct}
    if len(skels) != 1:
        return None
    skel = next(iter(skels))
    n_slots = sum(1 for s in skel if s is None)
    # per-slot class union
    slot_classes: list[set[str]] = [set() for _ in range(n_slots)]
    for v in distinct:
        slot = 0
        for r in _runs(v):
            if _ALNUM.match(r):
                slot_classes[slot] |= _seg_classes(r)
                slot += 1
    # bare lexical word guard: one slot, no symbols, lowercase present
    if n_slots == 1 and len(skel) == 1 and "L" in slot_classes[0]:
        return None
    parts: list[str] = []
    slot = 0
    for s in skel:
        if s is None:
            parts.append(_CLASS_REGEX[frozenset(slot_classes[slot])])
            slot += 1
        else:
            parts.append(escape_regex_text(s))
    return "".join(parts)


def propose_head_pattern(samples: list[str]) -> str | None:
    """Deterministic HeadAgent stand-in: derive one head regex from samples.

    Returns a Python/RE2-dialect pattern ``^<head> (?P<content>.*)$`` or None
    when no head structure is derivable (boundary 0).
    """
    words_per = [s.split(" ") for s in samples if s]
    if not words_per:
        return None
    # Noise robustness: group by word-0 skeleton, derive from the largest
    # group (ties → lexicographically smallest skeleton repr, deterministic).
    groups: Counter = Counter(_skeleton(w[0]) for w in words_per if w and w[0])
    if not groups:
        return None
    best_skel = max(sorted(groups, key=repr), key=lambda k: groups[k])
    group = [w for w in words_per if w and w[0] and _skeleton(w[0]) == best_skel]
    max_head = min(len(w) for w in group) - 1  # content must be non-empty
    head_parts: list[str] = []
    for pos in range(max_head):
        frag = _merge_position([w[pos] for w in group])
        if frag is None:
            break
        head_parts.append(frag)
    if not head_parts:
        return None
    return "^" + " ".join(head_parts) + " (?P<content>.*)$"


def _unmatched(lines: list[str], rx: re.Pattern[str]) -> list[str]:
    return [ln for ln in lines if rx.match(ln) is None]


def refine_head_pattern(lines: list[str]) -> tuple[str | None, int, list[int]]:
    """Derive + keep-best refine over a line pool (manager.ts loop shape).

    Returns (best_pattern, n_unmatched_in_pool, per-round unmatched history —
    non-increasing by construction of keep-best).
    """
    if not lines:
        return None, 0, []
    seed = k_center_select(lines, k=SEED_SAMPLES)
    accumulator = list(seed)
    seen = set(seed)
    tried: set[str] = set()

    current = propose_head_pattern(accumulator)
    if current is None:
        return None, len(lines), []
    tried.add(current)
    best_pattern = current
    best_unmatched = _unmatched(lines, compile_regex(current, False).rx)
    history = [len(best_unmatched)]

    for _ in range(MAX_REFINE_ROUNDS):
        if not best_unmatched:
            break
        available = [ln for ln in best_unmatched if ln not in seen]
        if not available:
            break
        picks = k_center_select(available, k=min(NEW_PICKS_PER_ROUND, len(available)))
        for ln in picks:
            seen.add(ln)
            accumulator.append(ln)
        candidate = propose_head_pattern(accumulator)
        if candidate is None or candidate in tried:
            break  # deterministic generator: a repeat cannot improve
        tried.add(candidate)
        cand_unmatched = _unmatched(lines, compile_regex(candidate, False).rx)
        # keep-best: accept only non-worse candidates (manager.ts:158)
        if len(cand_unmatched) <= len(best_unmatched):
            best_pattern, best_unmatched = candidate, cand_unmatched
        history.append(len(best_unmatched))
    return best_pattern, len(best_unmatched), history


def _pool_hash(key) -> int:
    """Portable 32-bit hash of an order key — identical in Spark via
    ``conv(substr(md5(concat('pool|', CAST(k AS STRING))), 1, 8), 16, 10)``."""
    import hashlib

    return int(hashlib.md5(f"pool|{key}".encode()).hexdigest()[:8], 16)


def pool_lines(sorted_items: list[tuple]) -> list[str]:
    """Deterministic hash-thinned pool over ordered ``(order_key, line)``
    pairs — the pure twin of ``stride_pool_collect``. With n rows and
    step = n // POOL_SIZE, keeps lines whose key hash ≡ 0 (mod step), first
    ``POOL_SIZE`` in order; n ≤ POOL_SIZE keeps everything."""
    n = len(sorted_items)
    if n <= POOL_SIZE:
        return [line for _k, line in sorted_items]
    step = n // POOL_SIZE
    out: list[str] = []
    for key, line in sorted_items:
        if _pool_hash(key) % step == 0:
            out.append(line)
            if len(out) >= POOL_SIZE:
                break
    return out


def derive_heads(per_source_items: dict[str, list[tuple]]) -> dict[str, str | None]:
    """Run the derive+refine loop per source over hash-thinned pools
    (driver-side, discovery-time). ``per_source_items`` values are
    ``(order_key, line)`` pairs in line order."""
    out: dict[str, str | None] = {}
    for source in sorted(per_source_items):
        pool = pool_lines(per_source_items[source])
        pattern, _, _ = refine_head_pattern(pool)
        out[source] = pattern
    return out


def stride_pool_collect(
    df, group_col: str, order_col: str, value_cols: list[str]
) -> dict[str, list[tuple]]:
    """Collect a deterministic per-group pool WITHOUT a full-corpus sort.

    The distributed twin of ``pool_lines``: per group with n rows, rows whose
    portable hash of the order key ≡ 0 (mod n // POOL_SIZE) survive a
    map-side filter (selectivity ~pool/n — unselected rows never shuffle),
    then the first ``POOL_SIZE`` survivors by ``order_col`` are kept. The only
    sort runs on the ~pool-sized residue per group — the previous windowed
    stride ranked EVERY row, a needless full shuffle+sort at 10^12 rows where
    the pool is 10⁻⁸ of the data. Per-group steps join in as a broadcast
    DataFrame (not an O(groups)-deep CASE chain). Groups with n ≤ POOL_SIZE
    keep every row. Returns {group: [(order, *values), …]} sorted by order.
    Shared by every derive surface so the pure-Python oracle twin and the
    Spark queries can never drift apart.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    counts = (
        df.groupBy(F.col(group_col).alias("_g")).agg(F.count("*").alias("_n")).collect()
    )
    steps = df.sparkSession.createDataFrame(
        [(r["_g"], r["_n"] // POOL_SIZE if r["_n"] > POOL_SIZE else 1) for r in counts],
        "_g string, _step long",
    )
    h32 = (
        f"CAST(conv(substr(md5(concat('pool|', CAST({order_col} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    w = Window.partitionBy(group_col).orderBy(order_col)
    rows = (
        df.select(group_col, order_col, *value_cols)
        .join(F.broadcast(steps), F.col(group_col) == F.col("_g"))
        .filter(F.expr(h32) % F.col("_step") == 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= POOL_SIZE)
        .select(group_col, order_col, *value_cols)
        .collect()
    )
    pools: dict[str, list[tuple]] = {}
    for r in rows:
        pools.setdefault(r[group_col], []).append(tuple(r[c] for c in [order_col, *value_cols]))
    return {g: sorted(v) for g, v in pools.items()}


def derive_heads_stage(
    spark, seq_df, vocab_rows: list[tuple[int, str]]
) -> dict[str, tuple[str, int]]:
    """Pipeline stage: derive head patterns straight from the TOKEN table —
    no head config needed (the reference's ensureHeadPattern step run before
    parsing, manager.ts:31-213).

    A deterministic stride pool per source (≤``POOL_SIZE`` rows) is collected,
    rendered driver-side from the vocab, and fed to the refine loop. Returns
    the ``source_heads`` dict parse_stage consumes: {source: (pattern, 1)} —
    group 1 is the named ``(?P<content>…)`` group. Sources where derivation
    fails are omitted (their rows become UNPARSED, the reference's
    no-head-pattern failure path). Rows without a source take no part:
    parse_stage routes them by a vote over the derived heads.

    Scale: one window-ranked scan of (doc_id, tokens, source) projecting only
    the pool rows to the driver; the full-corpus coverage cost is paid by the
    parse stage itself, not here.
    """
    from pyspark.sql import functions as F

    known = seq_df.filter(F.col("source") != "")
    pools = stride_pool_collect(known, "source", "doc_id", ["tokens"])
    vocab = dict(vocab_rows)
    rendered = {
        source: [(doc, " ".join(vocab.get(t, "") for t in tokens)) for doc, tokens in rows]
        for source, rows in pools.items()
    }
    return {s: (p, 1) for s, p in derive_heads(rendered).items() if p}
