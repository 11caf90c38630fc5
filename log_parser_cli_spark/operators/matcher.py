"""Ordered first-match-wins regex template matcher (reference parity).

The reference's core match loop iterates the library's templates in
``created_at`` order and takes the first full-line regex match
(src/core/regex-worker-pool.ts:67-112, order from
sqlite-template-manager.ts:224-247). Semantically a broadcast nested-loop
join with short-circuit — never a crossJoin: the template side is tiny and
broadcast; rows stream through a vectorized Arrow stage.

Execution is TEMPLATE-MAJOR, not row-major: templates run in precedence order
as one vectorized RE2 call (pyarrow.compute) over the still-unmatched row
subset, which preserves first-match-wins exactly (a row matched by an earlier
template is masked out of every later template's input) while keeping zero
per-row Python on the RE2 path. Patterns RE2 cannot compile fall back to the
Python ``re`` loop — for those rows only.

Used for the ``--match-only`` replay path (semantic-log-parser.ts:108-151),
as the parity check against the signature fast path, and (``match_batch``,
on the driver) for every regex test of the refine machine. Per-process compiled
cache keyed by a digest of the whole library (mirrors TemplateRuntimeCache,
template-runtime-cache.ts:22-60 — compile O(templates), not O(templates×rows)).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from log_parser_cli_spark.operators.parse import cache_key

_COMPILED_CACHE: dict[tuple[str, object], list["_CompiledTemplate"]] = {}

MATCH_FIELDS = [
    T.StructField("template_id", T.StringType()),
    T.StructField("variables", T.MapType(T.StringType(), T.StringType())),
]

_EMPTY_STR = pa.array([], pa.string())


@dataclass
class _CompiledTemplate:
    template_id: str
    mode: str  # "re2_extract" | "re2_match" | "py"
    full_pattern: str  # \A(?:pattern)\z — full-line anchored (P8)
    rx: re.Pattern[str] | None  # Python fallback / extraction


def _compile_one(template_id: str, pattern: str) -> _CompiledTemplate:
    """Pick the fastest executable form for one pattern.

    Full-line semantics (match must consume the whole line, P8) are encoded
    with \\A(?:...)\\z so RE2's substring-match primitives become full-line
    matchers. RE2 handles (?P<name>...) groups; extract_regex additionally
    requires EVERY group named — template-builder patterns satisfy that.
    """
    full = r"\A(?:" + pattern + r")\z"
    has_groups = "(?P<" in pattern
    if has_groups:
        try:
            pc.extract_regex(_EMPTY_STR, full)
            return _CompiledTemplate(template_id, "re2_extract", full, None)
        except pa.ArrowException:
            pass
    else:
        try:
            pc.match_substring_regex(_EMPTY_STR, full)
            return _CompiledTemplate(template_id, "re2_match", full, None)
        except pa.ArrowException:
            pass
    return _CompiledTemplate(template_id, "py", full, re.compile(pattern))


def library_key(template_rows: list[dict]) -> tuple:
    """Executor cache key of a template library: a digest of every
    (template_id, source, pattern, created_at), so two libraries that differ
    anywhere never share compiled templates."""
    return cache_key(
        "templates",
        sorted((r["template_id"], r["source"], r["pattern"], r["created_at"]) for r in template_rows),
    )


def compile_ordered(
    template_rows: list[dict], source: str, lib_key: tuple
) -> list[_CompiledTemplate]:
    """Compile one source's templates in precedence order, with caching."""
    key = (source, lib_key)
    compiled = _COMPILED_CACHE.get(key)
    if compiled is None:
        # Keep only the latest library per source: long-lived executors
        # matching against evolving libraries must not accumulate every
        # historical compiled set.
        for stale in [k for k in _COMPILED_CACHE if k[0] == source]:
            del _COMPILED_CACHE[stale]
        rows = [r for r in template_rows if r["source"] == source]
        rows.sort(key=lambda r: (r["created_at"], r["template_id"]))
        compiled = [_compile_one(r["template_id"], r["pattern"]) for r in rows]
        _COMPILED_CACHE[key] = compiled
    return compiled


def _groupdicts(struct: pa.StructArray) -> list[dict[str, str]]:
    """Named-group struct array → one {name: value} dict per row (F7),
    None-valued groups dropped (mirrors groupdict() filtering)."""
    names = [f.name for f in struct.type]
    cols = [struct.field(n).to_pylist() for n in names]
    return [
        {n: v for n, v in zip(names, row_vals) if v is not None}
        for row_vals in zip(*cols)
    ]


def match_batch(
    contents, sources, template_rows: list[dict], lib_key: tuple
) -> tuple[np.ndarray, np.ndarray]:
    """The one matching kernel: ordered first-match-wins over one batch.

    ``contents``/``sources``: equal-length sequences (a pandas Series or a
    list) of line text and source name. Returns (template ids, variable
    maps), one per row, None where no template of the row's source matches
    its whole line; null contents and null sources stay unmatched. The
    executor path (``match_templates``) and the driver-side refine machine
    (``plans.library_ops``) both run every regex test through here.
    """
    n = len(contents)
    tids = np.full(n, None, dtype=object)
    varmaps = np.full(n, None, dtype=object)
    contents = pa.array(contents, type=pa.string(), from_pandas=True)
    valid = pc.is_valid(contents).to_numpy(zero_copy_only=False)
    sources = np.asarray(sources, dtype=object)
    # null sources stay unmatched (np.unique cannot sort None vs str)
    src_notnull = np.array([s is not None for s in sources], dtype=bool)
    for src in np.unique(sources[src_notnull]):
        compiled = compile_ordered(template_rows, src, lib_key)
        if not compiled:
            continue
        # still-unmatched candidate positions for this source
        remaining = np.nonzero((sources == src) & valid & src_notnull)[0]
        for tpl in compiled:
            if remaining.size == 0:
                break
            lines = pc.take(contents, pa.array(remaining, pa.int64()))
            if tpl.mode == "re2_extract":
                struct = pc.extract_regex(lines, tpl.full_pattern)
                hit = pc.is_valid(struct).to_numpy(zero_copy_only=False)
                hit_pos = remaining[hit]
                if hit_pos.size:
                    tids[hit_pos] = tpl.template_id
                    varmaps[hit_pos] = _groupdicts(struct.filter(pa.array(hit)))
                remaining = remaining[~hit]
            elif tpl.mode == "re2_match":
                hit = (
                    pc.fill_null(pc.match_substring_regex(lines, tpl.full_pattern), False)
                    .to_numpy(zero_copy_only=False)
                    .astype(bool)
                )
                hit_pos = remaining[hit]
                if hit_pos.size:
                    tids[hit_pos] = tpl.template_id
                    varmaps[hit_pos] = [{} for _ in range(hit_pos.size)]
                remaining = remaining[~hit]
            else:  # Python re fallback (RE2-incompatible patterns only)
                rx = tpl.rx
                keep = []
                for pos, line in zip(remaining, lines.to_pylist()):
                    # fullmatch, not match()+end-length check: with an
                    # in-pattern end anchor the engine backtracks into
                    # later alternatives (e.g. 'a|ab' on 'ab'), keeping
                    # py-mode consistent with the RE2 \A(?:...)\z modes
                    m = rx.fullmatch(line)
                    if m is not None:
                        tids[pos] = tpl.template_id
                        gd = m.groupdict()
                        varmaps[pos] = {k: v for k, v in gd.items() if v is not None}
                    else:
                        keep.append(pos)
                remaining = np.array(keep, dtype=np.int64)
    return tids, varmaps


def match_templates(
    spark: SparkSession,
    df: DataFrame,
    template_rows: list[dict],
    content_col: str = "content",
    source_col: str = "source",
) -> DataFrame:
    """Append (template_id, variables) via ordered first-match-wins.

    ``template_rows``: dicts with template_id, source, pattern (anchored,
    Python syntax, named groups), created_at. Unmatched rows get NULLs —
    the matched/unmatched split is a single pass (E1 semantics), callers
    filter ``template_id IS NULL`` for the failure side.
    """
    lib_key = library_key(template_rows)
    sc = spark.sparkContext
    b_templates = sc.broadcast(template_rows)

    out_schema = T.StructType(list(df.schema.fields) + MATCH_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = b_templates.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            out["template_id"], out["variables"] = match_batch(
                pdf[content_col], pdf[source_col], rows, lib_key
            )
            yield out

    return df.mapInPandas(run, schema=out_schema)
