"""Stage 1 — vectorized parse: render + head-extract + masked signature.

The ONLY non-JVM stage in the pipeline, and it contains **zero per-row
Python**: it runs as ``mapInArrow`` over Arrow RecordBatches with every step a
vectorized Arrow/NumPy kernel:

- render: ``pc.take`` of the broadcast vocab over the batch's flattened token
  values, then ``pc.binary_join`` of the word lists — one C++ pass,
- head extraction: ``pc.extract_regex`` (RE2) per source over that source's
  row subset — the reference applies one compiled regex per row
  (src/core/head-pattern.ts:14-36); here it is one vectorized call per
  (source, batch), with a Python ``re`` fallback for patterns RE2 cannot run,
- source vote: rows with a NULL/empty source try every head in sorted source
  order over the still-unclaimed subset, one call per (head, batch),
- masked signature: mask classes are precomputed per *vocab word* on the
  driver (masking.py) and applied by a second ``pc.take``; the content suffix
  is sliced with pure offset arithmetic (content is always a word-suffix of
  the rendered line) and joined — again no per-row work.

Output adds: content, content_sig (masked canonical signature), head_matched.
``tokens`` passes through untouched — the byte-exact token-array equality
invariant is carried, never recomputed.

Per-executor caches mirror the reference's TemplateRuntimeCache
(template-runtime-cache.ts:22-60): vocab lookup arrays and compiled regexes
are built once per worker process, not per task.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from log_parser_cli_spark.functions.masking import mask_word

PARSED_EXTRA_FIELDS = [
    T.StructField("content", T.StringType()),
    T.StructField("content_sig", T.StringType()),
    T.StructField("head_matched", T.BooleanType()),
]

# Source of rows no head pattern claims in the source vote.
UNKNOWN_SOURCE = "__UNKNOWN__"

# Per-executor-process caches (module state survives across tasks).
_EXEC_CACHE: dict = {}


def cache_key(tag: str, rows: list) -> tuple:
    """Executor cache key: a digest of the WHOLE ``rows`` (a vocab, a template
    library), so two values that differ in any row never share a cached
    entry. Computed once per stage on the driver and closed over by the
    tasks."""
    return (tag, hashlib.blake2b(repr(rows).encode(), digest_size=16).hexdigest())


def _cached_vocab_arrays(key: tuple, b_vocab) -> tuple[pa.Array, pa.Array]:
    arrays = _EXEC_CACHE.get(key)
    if arrays is None:
        arrays = build_vocab_arrays(b_vocab.value)
        _EXEC_CACHE[key] = arrays
    return arrays


def build_vocab_arrays(vocab_rows: list[tuple[int, str]]) -> tuple[pa.Array, pa.Array]:
    """(token_id, text) rows → (text_by_id, canon_by_id) Arrow lookup arrays.

    ``canon_by_id[t]`` is the mask classification of token t's word — the
    per-vocab precompute that removes all per-row masking work.
    """
    size = max(t for t, _ in vocab_rows) + 1
    text = [""] * size
    canon = [""] * size
    for tid, word in vocab_rows:
        text[tid] = word
        canon[tid] = mask_word(word)
    return pa.array(text, pa.string()), pa.array(canon, pa.string())


def _named_content_pattern(pattern: str, group_idx: int) -> str | None:
    """Name EVERY capturing group (RE2 extract_regex requires all-named);
    the ``group_idx``-th becomes ``content``. Returns None if too few groups."""
    count = 0
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if ch == "(":
            if pattern.startswith("(?P<", i):
                count += 1  # already-named capturing group, keep as-is
                out.append(ch)
                i += 1
                continue
            if pattern.startswith("(?", i):
                out.append(ch)  # non-capturing / flags group
                i += 1
                continue
            count += 1
            out.append("(?P<content>" if count == group_idx else f"(?P<g{count}>")
            i += 1
            continue
        out.append(ch)
        i += 1
    if count < group_idx:
        return None
    return "".join(out) if "(?P<content>" in "".join(out) else None


def _extract_content(
    lines: pa.Array, pattern: str, group_idx: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized head extraction: (content object-array, matched bool-array).

    RE2 via pc.extract_regex when possible; Python re fallback otherwise.
    Both engines anchor at line START (re.match semantics): the RE2 pattern
    is wrapped with \\A so an un-anchored head config cannot match mid-line
    on one engine and fail on the other.
    """
    named = _named_content_pattern(pattern, group_idx)
    if named is not None:
        named = r"\A(?:" + named + ")"
        try:
            # ONE RE2 pass: extract_regex yields a null struct for unmatched
            # rows, so matched-ness and the content group come from the same
            # scan (a separate match_substring_regex pass would double the
            # regex work in the pipeline's hottest stage)
            struct = pc.extract_regex(lines, named)
            matched_arr = pc.is_valid(struct)
            return (
                struct.field("content").to_numpy(zero_copy_only=False),
                matched_arr.to_numpy(zero_copy_only=False),
            )
        except pa.ArrowInvalid:
            pass  # RE2-incompatible pattern → fallback
    rx_key = ("re", pattern)
    rx = _EXEC_CACHE.get(rx_key)
    if rx is None:
        rx = re.compile(pattern)
        _EXEC_CACHE[rx_key] = rx
    py_lines = lines.to_pylist()
    content = np.empty(len(py_lines), dtype=object)
    matched = np.zeros(len(py_lines), dtype=bool)
    for i, line in enumerate(py_lines):
        m = rx.match(line) if line is not None else None
        if m is not None:
            content[i] = m.group(group_idx)
            matched[i] = True
    return content, matched


def parse_stage(
    spark: SparkSession,
    seq_df: DataFrame,
    vocab_rows: list[tuple[int, str]],
    source_heads: dict[str, tuple[str, int]],
) -> DataFrame:
    """seq_df(doc_id, tokens, n_tok, source) → + (content, content_sig, head_matched).

    Rows whose ``source`` is NULL or empty are routed in the same pass: every
    head votes in sorted source order and the first match takes the row
    (reference routing-agent.ts:34-80 minus the LLM); unclaimed rows get
    ``UNKNOWN_SOURCE`` and ``head_matched = False``. Rows with a source keep
    their ``source`` column untouched.
    """
    sc = spark.sparkContext
    b_vocab = sc.broadcast(vocab_rows)
    vocab_key = cache_key("vocab", vocab_rows)
    b_heads = sc.broadcast(source_heads)

    out_schema = T.StructType(list(seq_df.schema.fields) + PARSED_EXTRA_FIELDS)
    col_names = [f.name for f in seq_df.schema.fields]
    tokens_idx = col_names.index("tokens")
    source_idx = col_names.index("source")
    out_names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        text_by_id, canon_by_id = _cached_vocab_arrays(vocab_key, b_vocab)
        heads = b_heads.value
        vote_order = sorted(heads.items())

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            tokens = batch.column(tokens_idx)
            if isinstance(tokens, pa.ChunkedArray):
                tokens = tokens.combine_chunks()
            offs = np.asarray(tokens.offsets)
            flat = tokens.values
            # render: vocab take + list join — all C++
            words = pa.ListArray.from_arrays(tokens.offsets, pc.take(text_by_id, flat))
            lines = pc.binary_join(words, pa.scalar(" "))

            content = np.full(n, None, dtype=object)
            matched = np.zeros(n, dtype=bool)

            def extract(idx: np.ndarray, head: tuple[str, int]) -> np.ndarray:
                c_sub, m_sub = _extract_content(pc.take(lines, idx), *head)
                content[idx] = c_sub
                matched[idx] = m_sub
                return m_sub

            # head extraction per source over that source's row subset
            cols = batch.columns
            src_col = cols[source_idx]
            for src in pc.unique(src_col).to_pylist():
                if src and src in heads:
                    extract(pc.indices_nonzero(pc.equal(src_col, src)).to_numpy(), heads[src])

            # rows without a source: first-match head vote in sorted source
            # order over the still-unassigned rows (the reference's routing
            # step, §3.1a); the voting extraction is the row's parse
            unknown = pc.fill_null(pc.equal(src_col, ""), True)
            if pc.any(unknown).as_py():
                remaining = pc.indices_nonzero(unknown).to_numpy()
                voted = src_col.to_numpy(zero_copy_only=False, writable=True)
                for src, head in vote_order:
                    if remaining.size == 0:
                        break
                    hit = extract(remaining, head)
                    voted[remaining[hit]] = src
                    remaining = remaining[~hit]
                voted[remaining] = UNKNOWN_SOURCE
                cols[source_idx] = pa.array(voted, pa.string())

            # masked signature of the content word-suffix: pure offset math
            canon_words = pc.take(canon_by_id, flat)
            content_arr = pa.array(content, pa.string())
            # content word count = spaces + 1 (0 when unmatched/empty)
            spaces = (
                pc.fill_null(pc.count_substring(content_arr, pattern=" "), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            nonempty = pc.and_(
                pc.is_valid(content_arr), pc.not_equal(content_arr, pa.scalar(""))
            )
            nonempty = (
                pc.fill_null(nonempty, False).to_numpy(zero_copy_only=False).astype(bool)
            )
            cwc = np.where(nonempty, spaces + 1, 0).astype(np.int64)
            starts = offs[1:].astype(np.int64) - cwc  # suffix start per row
            new_offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(cwc, out=new_offs[1:])
            total = int(new_offs[-1])
            # gather indices: for each row, starts[i] .. starts[i]+cwc[i]
            gather = np.arange(total, dtype=np.int64) + np.repeat(
                starts - new_offs[:-1], cwc
            )
            content_canon = pc.take(canon_words, pa.array(gather, pa.int64()))
            sig_lists = pa.ListArray.from_arrays(
                pa.array(new_offs, pa.int64()).cast(pa.int32()), content_canon
            )
            sigs = pc.binary_join(sig_lists, pa.scalar(" "))
            # null-out signatures for unmatched rows (join gives "" there)
            sigs = pc.if_else(pa.array(matched), sigs, pa.scalar(None, pa.string()))

            out_cols = cols + [content_arr, sigs, pa.array(matched)]
            yield pa.RecordBatch.from_arrays(out_cols, names=out_names)

    return seq_df.mapInArrow(run, schema=out_schema)
