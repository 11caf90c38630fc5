"""The one regex kernel and the ordered first-match-wins template matcher.

The reference runs two regex steps the same way: the head step applies one
compiled pattern per line and keeps its content group
(src/core/head-pattern.ts:14-36), and the template step takes the first
full-line match in ``created_at`` order (src/core/regex-worker-pool.ts:67-112,
order from sqlite-template-manager.ts:224-247). Here both run through two
functions:

- ``compile_regex`` compiles a pattern once per process (an ``lru_cache``
  keyed on the pattern text itself): ``python_regex`` (Python ``re`` under
  RE2's class rule) always; RE2 as well when no group can miss a match,
  naming every unnamed group ``g<k>`` provably keeps Python's group
  numbering and RE2 accepts the anchored form.
- ``first_match`` runs patterns in precedence order over the still-unclaimed
  rows: a row claimed by an earlier pattern is masked out of every later
  one's input. On the RE2 path it is one vectorized ``pc.extract_regex`` per
  (pattern, batch) with no per-row Python.

Callers: the parse stage (head content of a known source, and the source
vote over every head) and ``match_batch`` (templates per source), which
``match_templates`` runs per batch on the executors and the refine machine
runs on the driver. Semantically a broadcast nested-loop join with
short-circuit — never a crossJoin: the template side is tiny and travels in
the task closure.
"""

from __future__ import annotations

import functools
import re
import re._compiler as _sre_compile
import re._constants as _sre
import re._parser as _sre_parse
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MATCH_FIELDS = [
    T.StructField("template_id", T.StringType()),
    T.StructField("variables", T.MapType(T.StringType(), T.StringType())),
]


@dataclass(frozen=True)
class Regex:
    """A pattern compiled for ``first_match``. Field k - 1 of the yielded
    struct holds capturing group k, named ``groups[k - 1]``: the pattern's
    own name, else ``g<k>``. ``re2`` is the anchored all-named RE2 form, None
    when the pattern runs on Python ``re``."""

    rx: re.Pattern[str]
    full_line: bool
    groups: tuple[str, ...]
    re2: str | None


def _atoms(pattern: str) -> Iterator[tuple[int, str]]:
    """(start, text) of each atom of ``pattern``: an escape, a ``[...]``
    class (a leading ``]`` or ``^]`` included) or one character."""
    i, n = 0, len(pattern)
    while i < n:
        j = i + 1
        if pattern[i] == "\\":
            j = i + 2
        elif pattern[i] == "[":
            j += pattern.startswith("^", j)
            j += pattern.startswith("]", j)
            while j < n and pattern[j] != "]":
                j += 2 if pattern[j] == "\\" else 1
            j += 1
        yield i, pattern[i:j]
        i = j


def _name_groups(pattern: str) -> str:
    """``pattern`` with each unnamed capturing group named ``g<k>``, k its
    group number; escapes and classes are copied as they are."""
    out, k = [], 0
    for i, atom in _atoms(pattern):
        unnamed = atom == "(" and not pattern.startswith("?", i + 1)
        k += unnamed or pattern.startswith("(?P<", i)
        out.append(f"(?P<g{k}>" if unnamed else atom)
    return "".join(out)


# RE2's \s is [\t\n\f\r ]: Python's ASCII \s also holds \x0b, and its \S does not
_SPACE, _NOT_SPACE = (_sre.CATEGORY, _sre.CATEGORY_SPACE), (_sre.CATEGORY, _sre.CATEGORY_NOT_SPACE)
_RE2_CLASS = {_SPACE: [(_sre.LITERAL, c) for c in b"\t\n\f\r "], _NOT_SPACE: [_NOT_SPACE, (_sre.LITERAL, 0x0B)]}


def _re2_rule(tree, optional: bool = False, multiline: bool = False) -> bool:
    """Rewrite ``tree`` (an ``re._parser`` parse under ``re.ASCII``) in
    place to RE2's reading: its class rule, in new class lists (the parser
    shares its category lists between parses), and ``$`` outside multiline
    mode as ``\\Z``. Return whether a capturing group can take no part in a
    match: it sits under a min-0 repeat, in an alternation branch, or in a
    conditional or negative lookahead. RE2 (Arrow's ``extract_regex``) reads
    such a group as ``""`` where Python ``re`` gives None."""
    can_miss = False
    for i, (op, av) in enumerate(tree):
        if op is _sre.IN:
            tree[i] = (op, [x for item in av for x in _RE2_CLASS.get(item, [item])])
            continue
        if op is _sre.AT and av is _sre.AT_END and not multiline:
            tree[i] = (op, _sre.AT_END_STRING)
            continue
        inner_multiline = multiline
        if op is _sre.SUBPATTERN:
            if av[1] & (re.IGNORECASE | re.UNICODE):
                raise ValueError("scoped case-insensitive or Unicode flag")
            can_miss |= av[0] is not None and optional
            inner_multiline = (multiline or bool(av[1] & re.MULTILINE)) and not av[2] & re.MULTILINE
        inner = optional or op in (_sre.BRANCH, _sre.GROUPREF_EXISTS, _sre.ASSERT_NOT) or (
            op in (_sre.MAX_REPEAT, _sre.MIN_REPEAT, _sre.POSSESSIVE_REPEAT) and av[0] == 0
        )
        stack = [av]
        while stack:
            x = stack.pop()
            if isinstance(x, _sre_parse.SubPattern):
                can_miss |= _re2_rule(x, inner, inner_multiline)
            elif isinstance(x, (tuple, list)):
                stack.extend(x)
    return can_miss


def _compile_re2_rule(pattern: str) -> tuple[re.Pattern[str], bool]:
    """``python_regex(pattern)`` and whether a group in it can miss a match."""
    if any(  # RE2 reads `{,` as a literal (Python: a 0–n repeat) and `[:` as a POSIX class
        pattern.startswith("{,", i) or atom[0] == "[" and "[:" in re.sub(r"\\.", "", atom[1:], flags=re.S)
        for i, atom in _atoms(pattern)
    ):
        raise ValueError(f"{pattern!r} has `{{,` or a `[:` class, which RE2 reads otherwise")
    tree = _sre_parse.parse(pattern, re.ASCII)
    if tree.state.flags & re.IGNORECASE:
        raise ValueError(f"case-insensitive flag in {pattern!r}")
    can_miss = _re2_rule(tree, multiline=bool(tree.state.flags & re.MULTILINE))
    return _sre_compile.compile(tree), can_miss


def python_regex(pattern: str) -> re.Pattern[str]:
    """The one Python ``re`` spelling of a head or template pattern, under
    RE2's class rule: ``\\w``, ``\\d``, ``\\s`` and ``\\b`` are ASCII,
    ``\\s`` is ``[\\t\\n\\f\\r ]``, and a case-insensitive (RE2 folds
    Unicode, ``re.ASCII`` only ASCII) or Unicode flag, ``{,`` or a POSIX
    ``[:`` class raises ValueError; ``$`` is RE2's (end of text) too."""
    return _compile_re2_rule(pattern)[0]


@functools.lru_cache(maxsize=4096)
def compile_regex(pattern: str, full_line: bool) -> Regex:
    """Compile ``pattern`` for ``first_match``: a head (``full_line=False``,
    anchored at line start like ``re.match``) or a template (the whole line,
    like ``re.fullmatch``). RE2 runs it only when no group can miss a match,
    the all-named rewrite keeps Python's group numbering (checked on its
    ``groupindex``) and RE2 accepts ``\\A(?:…)`` / ``\\A(?:…)\\z``;
    otherwise ``python_regex`` does."""
    rx, can_miss = _compile_re2_rule(pattern)
    own = {k: name for name, k in rx.groupindex.items()}
    groups = tuple(own.get(k, f"g{k}") for k in range(1, rx.groups + 1))
    re2 = None
    try:
        named = re.compile(_name_groups(pattern))
        if (
            not can_miss
            and named.groups == rx.groups
            and named.groupindex == {g: k for k, g in enumerate(groups, 1)}
        ):
            anchored = r"\A(?:" + named.pattern + (r")\z" if full_line else ")")
            pc.extract_regex(pa.array([], pa.string()), anchored)
            re2 = anchored
    except (re.error, pa.ArrowException):
        pass  # the rewrite or RE2 rejects it: Python re runs it
    return Regex(rx, full_line, groups, re2)


def first_match(
    lines: pa.Array, rows: np.ndarray, patterns: list[Regex]
) -> Iterator[tuple[int, np.ndarray, pa.StructArray]]:
    """The one first-match-wins loop. ``patterns`` run in precedence order,
    each over the ``rows`` (positions in ``lines``) no earlier pattern
    claimed; yields (pattern position, rows it won, their group struct) for
    each pattern that wins any. Null lines match nothing."""
    for pos, regex in enumerate(patterns):
        if rows.size == 0:
            return
        sub = pc.take(lines, rows)
        if regex.re2 is not None:
            struct = pc.extract_regex(sub, regex.re2)
            hit = pc.is_valid(struct).to_numpy(zero_copy_only=False)
            won = struct.filter(pa.array(hit))
        else:
            run = regex.rx.fullmatch if regex.full_line else regex.rx.match
            found = [None if s is None else run(s) for s in sub.to_pylist()]
            hit = np.array([m is not None for m in found], dtype=bool)
            won = pa.array(
                [m.groups() for m in found if m is not None],
                pa.struct([(g, pa.string()) for g in regex.groups]),
            )
        if hit.any():
            yield pos, rows[hit], won
        rows = rows[~hit]


def compile_ordered(template_rows: list[dict], source: str) -> list[tuple[str, Regex]]:
    """One source's (template_id, compiled pattern) in precedence order
    (created_at, template_id)."""
    rows = sorted(
        (r for r in template_rows if r["source"] == source),
        key=lambda r: (r["created_at"], r["template_id"]),
    )
    return [(r["template_id"], compile_regex(r["pattern"], True)) for r in rows]


def match_batch(contents, sources, template_rows: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Ordered first-match-wins templates over one batch.

    ``contents``/``sources``: equal-length sequences (a pandas Series or a
    list) of line text and source name. Returns (template ids, variable
    maps), one per row, None where no template of the row's source matches
    its whole line; null contents and null sources stay unmatched. A map
    holds the pattern's own named groups that took part in the match, never
    the synthetic ``g<k>`` ones.
    """
    n = len(contents)
    tids = np.full(n, None, dtype=object)
    varmaps = np.full(n, None, dtype=object)
    contents = pa.array(contents, type=pa.string(), from_pandas=True)
    sources = np.asarray(sources, dtype=object)
    for src in {s for s in sources if s is not None}:  # null sources stay unmatched
        ordered = compile_ordered(template_rows, src)
        rows = np.nonzero(sources == src)[0]
        for pos, won, struct in first_match(contents, rows, [rx for _, rx in ordered]):
            tid, regex = ordered[pos]
            tids[won] = tid
            named = [(g, struct.field(k - 1).to_pylist()) for g, k in regex.rx.groupindex.items()]
            varmaps[won] = [
                {g: vals[i] for g, vals in named if vals[i] is not None} for i in range(won.size)
            ]
    return tids, varmaps


def match_templates(
    spark: SparkSession,
    df: DataFrame,
    template_rows: list[dict],
) -> DataFrame:
    """Append (template_id, variables) via ordered first-match-wins.

    ``template_rows``: dicts with template_id, source, pattern (anchored,
    Python syntax, named groups), created_at. Unmatched rows get NULLs —
    the matched/unmatched split is a single pass (E1 semantics), callers
    filter ``template_id IS NULL`` for the failure side. ``template_rows``
    reach the tasks in their closure; ``spark`` is unused.
    """
    out_schema = T.StructType(list(df.schema.fields) + MATCH_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            out["template_id"], out["variables"] = match_batch(
                pdf["content"], pdf["source"], template_rows
            )
            yield out

    return df.mapInPandas(run, schema=out_schema)
