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


def _render_lines(tokens: pa.Array, text_by_id: pa.Array) -> pa.StringArray:
    """Render token lists → space-joined lines (one C++ take + join pass)."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    offs = np.asarray(tokens.offsets)
    words = pc.take(text_by_id, tokens.values)
    word_lists = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), words)
    return pc.binary_join(word_lists, pa.scalar(" "))


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


def infer_sources(
    spark: SparkSession,
    seq_df: DataFrame,
    vocab_rows: list[tuple[int, str]],
    source_heads: dict[str, tuple[str, int]],
    unknown_label: str = "__UNKNOWN__",
) -> DataFrame:
    """Routing stage (§3.1a): classify rows with NULL/empty ``source`` by
    head-pattern match — the deterministic stand-in for the reference's
    RoutingAgent (routing-agent.ts:34-80 classifies sample lines to a library;
    here every candidate library's head regex votes, first match in sorted
    source order wins; unmatched rows get ``unknown_label``).

    Rows that already carry a source pass through untouched. Same vectorized
    shape as parse: render once, then one RE2 pass per candidate source over
    the still-unassigned subset.
    """
    sc = spark.sparkContext
    b_vocab = sc.broadcast(vocab_rows)
    vocab_key = cache_key("vocab", vocab_rows)
    b_heads = sc.broadcast(sorted(source_heads.items()))

    out_schema = seq_df.schema
    col_names = [f.name for f in seq_df.schema.fields]
    tokens_idx = col_names.index("tokens")
    source_idx = col_names.index("source")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        text_by_id, _canon = _cached_vocab_arrays(vocab_key, b_vocab)
        heads = b_heads.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            src_col = batch.column(source_idx)
            # vectorized unknown mask (no per-row Python)
            unknown_arr = pc.or_kleene(
                pc.is_null(src_col), pc.equal(src_col, pa.scalar(""))
            )
            unknown = pc.fill_null(unknown_arr, True).to_numpy(zero_copy_only=False)
            if not unknown.any():
                yield batch
                continue
            # render ONLY the unknown-source subset
            unknown_idx = np.nonzero(unknown)[0]
            tokens = batch.column(tokens_idx)
            if isinstance(tokens, pa.ChunkedArray):
                tokens = tokens.combine_chunks()
            sub_tokens = tokens.take(pa.array(unknown_idx, pa.int64()))
            lines = _render_lines(sub_tokens, text_by_id)
            out_sources = src_col.to_numpy(zero_copy_only=False).copy()
            remaining = np.arange(unknown_idx.size)  # positions within the subset
            for src, (pattern, group_idx) in heads:
                if remaining.size == 0:
                    break
                sub = pc.take(lines, pa.array(remaining, pa.int64()))
                _c, matched = _extract_content(sub, pattern, group_idx)
                out_sources[unknown_idx[remaining[matched]]] = src
                remaining = remaining[~matched]
            out_sources[unknown_idx[remaining]] = unknown_label
            cols = list(batch.columns)
            cols[source_idx] = pa.array(out_sources.tolist(), pa.string())
            yield pa.RecordBatch.from_arrays(cols, names=col_names)

    return seq_df.mapInArrow(run, schema=out_schema)


def parse_stage(
    spark: SparkSession,
    seq_df: DataFrame,
    vocab_rows: list[tuple[int, str]],
    source_heads: dict[str, tuple[str, int]],
) -> DataFrame:
    """seq_df(doc_id, tokens, n_tok, source) → + (content, content_sig, head_matched)."""
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
            lines = _render_lines(tokens, text_by_id)

            # head extraction per source over that source's row subset
            sources = batch.column(source_idx).to_numpy(zero_copy_only=False)
            content = np.full(n, None, dtype=object)
            matched = np.zeros(n, dtype=bool)
            for src in np.unique(sources):
                head = heads.get(src)
                if head is None:
                    continue
                idx = np.nonzero(sources == src)[0]
                sub = pc.take(lines, pa.array(idx, pa.int64()))
                c_sub, m_sub = _extract_content(sub, head[0], head[1])
                content[idx] = c_sub
                matched[idx] = m_sub

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

            out_cols = list(batch.columns) + [
                content_arr,
                sigs,
                pa.array(matched),
            ]
            yield pa.RecordBatch.from_arrays(out_cols, names=out_names)

    return seq_df.mapInArrow(run, schema=out_schema)
