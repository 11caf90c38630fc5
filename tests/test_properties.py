"""Property-based tests (hypothesis) for the template semantic core.

The central invariant chain (reference: template-variable-extractor.ts:58-68 +
regex-builder.ts:34-63): for ANY raw line annotated with ⟪⟫ around value
spans —
  1. extraction reads back exactly the embedded values,
  2. reconstruction equals the raw line byte-for-byte,
  3. the built anchored regex full-matches the raw line,
  4. the captured groups equal the embedded values.
"""

from __future__ import annotations

import dataclasses
import re

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from log_parser_cli_spark.functions.masking import mask_word, signature_to_star
from log_parser_cli_spark.functions.templates import (
    anchor_pattern,
    build_regex_from_template,
    extract_variables_from_template,
    normalize_placeholder,
)
from log_parser_cli_spark.operators.matcher import (
    compile_regex,
    first_match,
    match_batch,
    python_regex,
)

# literal text between variables: printable, no ⟪⟫ markers
_literal = st.text(
    alphabet=st.characters(blacklist_characters="⟪⟫", min_codepoint=32, max_codepoint=0x2FFF),
    min_size=1,
    max_size=12,
)
# variable values: non-empty, no markers, no newlines
_value = st.text(
    alphabet=st.characters(blacklist_characters="⟪⟫\r\n", min_codepoint=33, max_codepoint=0x2FFF),
    min_size=1,
    max_size=10,
)


@st.composite
def annotated_templates(draw):
    n_vars = draw(st.integers(min_value=0, max_value=4))
    parts = [draw(_literal)]
    values = []
    for _ in range(n_vars):
        v = draw(_value)
        values.append(v)
        parts.append(f"⟪{v}⟫")
        parts.append(draw(_literal))
    template = "".join(parts)
    raw = template.replace("⟪", "").replace("⟫", "")
    return template, raw, values


@given(annotated_templates())
@settings(max_examples=200, deadline=None)
def test_extract_reconstruct_roundtrip(tc):
    template, raw, values = tc
    ex = extract_variables_from_template(template, raw)
    assert ex.reconstructed == raw
    assert [ex.variables[f"v{i+1}"] for i in range(len(values))] == values


@given(annotated_templates())
@settings(max_examples=200, deadline=None)
def test_built_regex_fullmatches_its_own_line(tc):
    template, raw, _ = tc
    built = build_regex_from_template(template, raw)
    rx = re.compile(anchor_pattern(built.pattern))
    m = rx.match(raw)
    assert m is not None and m.end() == len(raw)
    for name in built.variables:
        # captured span must lie inside the raw line (value shape may widen,
        # but the match with all groups must reconstruct the full line)
        assert m.group(name) is not None
    # reassembling matched groups + literals reproduces the line
    assert m.group(0) == raw


@given(st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF), min_size=1, max_size=15))
@settings(max_examples=300, deadline=None)
def test_mask_word_is_idempotent_and_total(word):
    masked = mask_word(word)
    assert isinstance(masked, str)
    # masking a masked token never re-masks into something else
    assert mask_word(masked) in (masked, mask_word(masked))
    # star-folding removes all mask markers
    assert "\x00" not in signature_to_star(masked)


@given(st.lists(st.sampled_from(["workers", "12", "10.0.0.1", "blk_77", "x=9", "/var/log", "ok"]), min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_signature_word_count_preserved(words):
    line = " ".join(words)
    sig = " ".join(mask_word(w) for w in line.split(" "))
    assert len(sig.split(" ")) == len(words)
    star = signature_to_star(sig)
    assert len(star.split(" ")) == len(words)


@given(annotated_templates())
@settings(max_examples=100, deadline=None)
def test_normalize_placeholder_erases_all_values(tc):
    template, _, values = tc
    norm = normalize_placeholder(template)
    assert "⟪" not in norm and "⟫" not in norm
    assert norm.count("<*>") == len(values)


# ---------------------------------------------------------------------------
# Head derivation properties: for ANY synthetic corpus whose lines share a
# structured head prefix (timestamp-ish / level / pid shapes) followed by
# lowercase message words, the derived pattern must cover every line and the
# captured content must be exactly the post-head suffix.
# ---------------------------------------------------------------------------

_msg_word = st.sampled_from(
    ["started", "stopped", "failed", "served", "evicted", "resolved", "ok", "retry"]
)


@st.composite
def head_corpora(draw):
    style = draw(st.integers(min_value=0, max_value=2))
    n = draw(st.integers(min_value=4, max_value=30))
    lines = []
    for i in range(n):
        h = draw(st.integers(min_value=0, max_value=23))
        m = draw(st.integers(min_value=0, max_value=59))
        pid = draw(st.integers(min_value=1, max_value=99999))
        level = draw(st.sampled_from(["INFO", "WARN", "ERROR"]))
        if style == 0:
            head = f"{h:02d}:{m:02d}:00 {level} pid={pid}"
        elif style == 1:
            head = f"[{h:02d}:{m:02d}] {level}"
        else:
            head = f"2024-01-{(i % 27) + 1:02d} {level}"
        words = draw(st.lists(_msg_word, min_size=1, max_size=5))
        lines.append(head + " " + " ".join(words))
    return lines


@given(head_corpora())
@settings(max_examples=60, deadline=None)
def test_derived_head_covers_generated_corpus(lines):
    from log_parser_cli_spark.operators.head_derive import refine_head_pattern

    pattern, n_unmatched, history = refine_head_pattern(lines)
    assert pattern is not None
    assert n_unmatched == 0, (pattern, [l for l in lines if not re.match(pattern, l)][:3])
    assert history == sorted(history, reverse=True)  # keep-best is monotone
    rx = re.compile(pattern)
    for line in lines:
        m = rx.match(line)
        assert m is not None
        content = m.group("content")
        # captured content is a word-suffix of the line
        assert line.endswith(content)
        assert content and content[0].islower()


# ---------------------------------------------------------------------------
# The regex kernel: for ANY small library drawn from a grammar of named and
# unnamed groups, groups under ``?``/``*``, alternation, ``[...]`` classes
# holding ``(``, ``)``, ``[``, ``&`` or a leading ``]``, and the ``\w``,
# ``\d``, ``\s`` and ``\S`` escapes over lines holding non-ASCII letters,
# digits and spaces and ``\x0b``, anchored by ``^…$`` or not,
# ``match_batch`` (RE2 where ``compile_regex`` allows it), ``first_match``
# forced onto Python ``re`` and ``oracle_match``'s rule (``python_regex``'s
# ``fullmatch``, the groupdict without None) agree on every line's owner and
# variables.
# ---------------------------------------------------------------------------

_CHARS = "ab ()][&é٣\xa0\x0b"
_NOISE = _CHARS + "?P<g1>"  # also the text of a ``(?P<g1>`` rewritten into a class
_GROUP_NAMES = ["v1", "v2", "g1", "g2", "g3"]  # g<k> clashes with RE2's synthetic names
# class escapes → the characters their lines draw: RE2's members and the
# near misses Python's Unicode classes (or its ASCII ``\s``) would take
_ESCAPES = {r"\w": "a_é", r"\d": "1٣", r"\s": " \xa0\x0b", r"\S": "a\xa0\x0b"}


def _escape(c: str) -> str:
    return "\\" + c if c in "()][" else c


@st.composite
def _regex_node(draw, names: list[str], depth: int):
    """(pattern text, line generator): ``gen(draw)`` draws a string the
    pattern's text matches in full, or a near miss at a class escape."""
    kinds = ["lit", "cls", "esc"] + (["group", "opt", "star", "alt", "seq"] if depth < 3 else [])
    kind = draw(st.sampled_from(kinds))
    if kind == "lit":
        text = draw(st.text(alphabet=_CHARS, min_size=1, max_size=3))
        return "".join(map(_escape, text)), lambda d: text
    if kind == "esc":
        esc = draw(st.sampled_from(sorted(_ESCAPES)))
        return esc, lambda d: d(st.sampled_from(_ESCAPES[esc]))
    if kind == "cls":
        members = draw(st.sets(st.sampled_from(_CHARS), min_size=1, max_size=3))
        rest = sorted(members - {"]"})
        body = ("]" if "]" in members else "") + "".join(rest)  # ``]`` only leads
        others = sorted(set(_CHARS) - members)
        if others and draw(st.booleans()):
            return f"[^{body}]", lambda d: d(st.sampled_from(others))
        return f"[{body}]", lambda d: d(st.sampled_from(sorted(members)))
    if kind == "seq":
        parts = [draw(_regex_node(names, depth + 1)) for _ in range(draw(st.integers(2, 3)))]
        return "".join(p for p, _ in parts), lambda d: "".join(g(d) for _, g in parts)
    if kind == "alt":
        parts = [draw(_regex_node(names, depth + 1)) for _ in range(2)]
        return f"(?:{parts[0][0]}|{parts[1][0]})", lambda d: d(st.sampled_from(parts))[1](d)
    inner, gen = draw(_regex_node(names, depth + 1))
    if kind == "group":
        opener = draw(st.sampled_from(["(", "(?:"] + ["(?P<>"] * 2 * bool(names)))
        if opener == "(?P<>":
            opener = f"(?P<{names.pop(draw(st.integers(0, len(names) - 1)))}>"
        return f"{opener}{inner})", gen
    # a quantifier applies to one atom: wrap the child in a (capturing or not) group
    opener = draw(st.sampled_from(["(", "(?:"]))
    if kind == "opt":
        return f"{opener}{inner})?", lambda d: d(st.sampled_from(["", gen(d)]))
    return f"{opener}{inner})*", lambda d: "".join(gen(d) for _ in range(d(st.integers(0, 2))))


@st.composite
def regex_libraries(draw):
    library, lines = [], []
    for i in range(draw(st.integers(1, 3))):
        body, gen = draw(_regex_node(list(_GROUP_NAMES), 0))
        pattern = f"^{body}$" if draw(st.booleans()) else body
        library.append({"template_id": f"t#{i}", "source": "s", "pattern": pattern, "created_at": i})
        lines += [gen(draw) for _ in range(draw(st.integers(0, 3)))]
    lines += draw(st.lists(st.text(alphabet=_NOISE, max_size=6), max_size=2))
    return library, lines or [""]


@given(regex_libraries())
@settings(max_examples=300, deadline=None, derandomize=True)
def test_regex_kernel_agrees_with_python_re_and_the_oracle(case):
    library, lines = case
    tids, varmaps = match_batch(lines, ["s"] * len(lines), library)
    got = list(zip(tids, varmaps))

    forced = [(None, None)] * len(lines)
    on_re = [dataclasses.replace(compile_regex(t["pattern"], True), re2=None) for t in library]
    for pos, won, struct in first_match(pa.array(lines), np.arange(len(lines)), on_re):
        named = {g: struct.field(k - 1).to_pylist() for g, k in on_re[pos].rx.groupindex.items()}
        for i, row in enumerate(won):
            variables = {g: vals[i] for g, vals in named.items() if vals[i] is not None}
            forced[row] = (library[pos]["template_id"], variables)

    oracle = []
    for line in lines:
        owner = (None, None)
        for t in library:
            m = python_regex(t["pattern"]).fullmatch(line)
            if m is not None:
                variables = {k: v for k, v in m.groupdict().items() if v is not None}
                owner = (t["template_id"], variables)
                break
        oracle.append(owner)

    assert got == forced == oracle, [t["pattern"] for t in library]
