"""Stage 1 — vectorized parse: render + head-extract + masked signature.

The ONLY non-JVM stage in the pipeline, and it contains **zero per-row
Python**: it runs as ``mapInArrow`` over Arrow RecordBatches with every step a
vectorized Arrow/NumPy kernel:

- render: ``pc.take`` of the vocab over the batch's flattened token
  values, then ``pc.binary_join`` of the word lists — one C++ pass,
- head extraction: the matcher's regex kernel (``compile_regex`` +
  ``first_match``) per source over that source's row subset — the reference
  applies one compiled regex per row (src/core/head-pattern.ts:14-36); here
  it is one vectorized RE2 call per (source, batch), Python ``re`` only for
  heads RE2 cannot run with Python's group numbering,
- source vote: rows with a NULL/empty source go through the same kernel
  with every head in sorted source order over the still-unclaimed subset,
- masked signature: mask classes are precomputed per *vocab word* on the
  driver (masking.py) and applied by a second ``pc.take``; the content suffix
  is sliced with pure offset arithmetic (content is always a word-suffix of
  the rendered line) and joined — again no per-row work.

Output adds: content, content_sig (masked canonical signature), head_matched.
``tokens`` passes through untouched — the byte-exact token-array equality
invariant is carried, never recomputed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from log_parser_cli_spark.functions.masking import mask_word
from log_parser_cli_spark.operators.matcher import compile_regex, first_match

PARSED_EXTRA_FIELDS = [
    T.StructField("content", T.StringType()),
    T.StructField("content_sig", T.StringType()),
    T.StructField("head_matched", T.BooleanType()),
]


def parsed_schema(seq_schema: T.StructType) -> T.StructType:
    """``parse_stage``'s output schema over an input of ``seq_schema``."""
    return T.StructType(seq_schema.fields + PARSED_EXTRA_FIELDS)


# Source of rows no head pattern claims in the source vote.
UNKNOWN_SOURCE = "__UNKNOWN__"

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

    The vocab lookup arrays are built here once and, with ``source_heads``,
    reach the tasks in their closure; ``spark`` is unused.
    """
    for src, (pattern, group) in source_heads.items():
        if not 1 <= group <= len(compile_regex(pattern, False).groups):
            raise ValueError(f"head of {src!r} has no content group {group}: {pattern!r}")
    text_by_id, canon_by_id = build_vocab_arrays(vocab_rows)

    out_schema = parsed_schema(seq_df.schema)
    col_names = [f.name for f in seq_df.schema.fields]
    tokens_idx = col_names.index("tokens")
    source_idx = col_names.index("source")
    out_names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # source → (compiled head, struct field of its content group)
        heads = {
            src: (compile_regex(pattern, False), group - 1)
            for src, (pattern, group) in source_heads.items()
        }
        vote_order = sorted(heads)

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

            def extract(rows: np.ndarray, srcs: list[str]) -> list[tuple[str, np.ndarray]]:
                """Head extraction over ``rows``, first match in ``srcs``
                order; returns (source, rows its head won) pairs."""
                won_by = []
                for pos, won, struct in first_match(lines, rows, [heads[s][0] for s in srcs]):
                    content[won] = struct.field(heads[srcs[pos]][1]).to_numpy(zero_copy_only=False)
                    matched[won] = True
                    won_by.append((srcs[pos], won))
                return won_by

            # head extraction per source over that source's row subset
            cols = batch.columns
            src_col = cols[source_idx]
            for src in pc.unique(src_col).to_pylist():
                if src and src in heads:
                    extract(pc.indices_nonzero(pc.equal(src_col, src)).to_numpy(), [src])

            # rows without a source: every head votes in sorted source order
            # over the still-unclaimed rows (the reference's routing step,
            # §3.1a); the winning extraction is the row's parse
            unknown = pc.fill_null(pc.equal(src_col, ""), True)
            if pc.any(unknown).as_py():
                voted = src_col.to_numpy(zero_copy_only=False, writable=True)
                rows = pc.indices_nonzero(unknown).to_numpy()
                voted[rows] = UNKNOWN_SOURCE
                for src, won in extract(rows, vote_order):
                    voted[won] = src
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
