"""Unit tests for the template semantic core (F1–F5, P6–P9 in SURVEY.md §2)."""

import re

import pytest

from log_parser_cli_spark.functions.templates import (
    anchor_pattern,
    build_regex_from_template,
    extract_variables_from_template,
    infer_regex_for_value,
    normalize_placeholder,
    parse_template_structure,
)


def test_parse_structure_basic():
    segs = parse_template_structure("User ⟪john⟫ logged in at ⟪14:30⟫")
    assert [(s.kind, s.value) for s in segs] == [
        ("text", "User "),
        ("var", "john"),
        ("text", " logged in at "),
        ("var", "14:30"),
    ]


def test_parse_structure_unclosed_bracket_is_literal():
    segs = parse_template_structure("a ⟪x b")
    assert [(s.kind, s.value) for s in segs] == [("text", "a "), ("text", "⟪"), ("text", "x b")]


def test_extract_variables_and_reconstruction():
    ex = extract_variables_from_template("User ⟪john⟫ logged in at ⟪14:30⟫", "User john logged in at 14:30")
    assert ex.variables == {"v1": "john", "v2": "14:30"}
    assert ex.order == ["v1", "v2"]
    assert ex.reconstructed == "User john logged in at 14:30"


def test_reconstruction_mismatch_raises():
    with pytest.raises(ValueError, match="reconstruction"):
        extract_variables_from_template("User ⟪john⟫ x", "User jane x")


def test_zero_variable_template_allowed():
    ex = extract_variables_from_template("caught sigterm shutting down")
    assert ex.variables == {}
    assert ex.reconstructed == "caught sigterm shutting down"


def test_build_regex_matches_variations():
    built = build_regex_from_template("client ⟪10.0.0.1⟫ denied from ⟪/var/log⟫")
    rx = re.compile(anchor_pattern(built.pattern))
    m = rx.match("client 192.168.7.44 denied from /usr/share/doc")
    assert m and m.group("v1") == "192.168.7.44" and m.group("v2") == "/usr/share/doc"


def test_build_regex_escapes_metacharacters():
    built = build_regex_from_template("[main] worker (init) a+b? count ⟪5⟫")
    rx = re.compile(anchor_pattern(built.pattern))
    assert rx.match("[main] worker (init) a+b? count 99")
    assert not rx.match("Xmain] worker (init) a+b? count 99")


def test_infer_regex_shapes():
    assert infer_regex_for_value("") == r"[^\r\n]*"
    assert infer_regex_for_value("abc123") == "[A-Za-z0-9_/-]+"
    assert infer_regex_for_value("10.0.0.1") == r"[A-Za-z0-9_/-]+\.[A-Za-z0-9_/-]+\.[A-Za-z0-9_/-]+\.[A-Za-z0-9_/-]+"
    # a space inside a value generalizes to \s+
    assert infer_regex_for_value("a b") == r"[A-Za-z0-9_/-]+\s+[A-Za-z0-9_/-]+"


def test_star_template():
    built = build_regex_from_template("session ⟪abc1⟫ for ⟪carol⟫")
    assert built.star_template == "session <*> for <*>"


def test_normalize_placeholder():
    assert normalize_placeholder("User ⟪john⟫  logged   in") == "User <*> logged in"
    assert normalize_placeholder(None) == ""
    assert normalize_placeholder("  x ") == "x"


def test_anchor_pattern():
    assert anchor_pattern("abc") == "^abc$"
    assert anchor_pattern("^abc$") == "^abc$"
