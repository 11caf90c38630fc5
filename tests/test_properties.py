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

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from log_parser_cli_spark.functions.masking import mask_word, signature_to_star
from log_parser_cli_spark.functions.templates import (
    anchor_pattern,
    build_regex_from_template,
    extract_variables_from_template,
    normalize_placeholder,
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
