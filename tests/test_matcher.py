"""Regex first-match-wins matcher (J2) vs the pure-Python oracle and GT."""

import dataclasses
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import pyspark.sql.functions as F

from log_parser_cli_spark.operators.matcher import (
    compile_regex,
    first_match,
    match_batch,
    match_templates,
    python_regex,
)
from log_parser_cli_spark.operators.parse import parse_stage
from log_parser_cli_spark.oracle import load_fixture_table, oracle_counts, oracle_match
from log_parser_cli_spark.plans.pipeline import load_dims


def _parsed(spark, fixture_dir):
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    return parse_stage(spark, seq, vocab_rows, source_heads)


def test_matcher_agrees_with_oracle_and_ground_truth(spark, fixture_dir):
    templates = load_fixture_table(fixture_dir, "templates")
    parsed = _parsed(spark, fixture_dir)
    matched = match_templates(spark, parsed, templates).cache()

    # 1) counts agree with the single-process oracle
    o_matches = oracle_match(fixture_dir)
    o_counts = oracle_counts(o_matches, load_fixture_table(fixture_dir, "sequences"))
    mine = Counter()
    for r in matched.groupBy("source", "template_id", "head_matched").count().collect():
        key = r.template_id if r.template_id else ("__UNPARSED__" if not r.head_matched else "__UNMATCHED__")
        mine[(r.source, key)] += r["count"]
    assert mine == o_counts

    # 2) matched template ids equal the generator's ground-truth event ids
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    j = matched.select("doc_id", "template_id").join(gt.select("doc_id", "event_id"), "doc_id")
    bad = j.filter(
        F.coalesce("template_id", F.lit("__UNPARSED__")) != F.col("event_id")
    )
    assert bad.count() == 0, bad.collect()[:5]
    matched.unpersist()


def test_matcher_variable_values_match_ground_truth(spark, fixture_dir):
    templates = load_fixture_table(fixture_dir, "templates")
    parsed = _parsed(spark, fixture_dir)
    matched = match_templates(spark, parsed, templates)
    mine = matched.filter(F.col("template_id").isNotNull()).select(
        "doc_id",
        F.array_join(
            F.expr("transform(sequence(1, size(variables)), i -> variables[concat('v', i)])"),
            "|",
        ).alias("my_vars"),
    )
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    j = mine.join(gt.select("doc_id", "var_concat"), "doc_id")
    bad = j.filter(F.coalesce("my_vars", F.lit("")) != F.col("var_concat"))
    assert bad.count() == 0, bad.collect()[:5]


def test_first_match_wins_precedence(spark):
    """Two overlapping templates: the earlier created_at must win (O1)."""
    templates = [
        {
            "template_id": "t#1",
            "source": "s",
            "pattern": r"^item (?P<v1>[A-Za-z0-9_/-]+) ok$",
            "created_at": 1,
        },
        {
            "template_id": "t#2",
            "source": "s",
            # also matches every line t#1 matches
            "pattern": r"^item (?P<v1>[^\r\n]*) ok$",
            "created_at": 2,
        },
    ]
    df = spark.createDataFrame(
        [("d1", "s", "item 42 ok"), ("d2", "s", "item a b ok")],
        "doc_id string, source string, content string",
    )
    got = {
        r.doc_id: r.template_id
        for r in match_templates(spark, df, templates).collect()
    }
    # d1 matches both → t#1 wins by precedence; d2 only matches the broad one
    assert got == {"d1": "t#1", "d2": "t#2"}

    # flipping created_at flips the winner
    templates[0]["created_at"], templates[1]["created_at"] = 2, 1
    got2 = {
        r.doc_id: r.template_id
        for r in match_templates(spark, df, templates).collect()
    }
    assert got2["d1"] == "t#2"


def test_full_line_anchoring(spark):
    """A prefix match is NOT a match (P8: match[0] === line)."""
    templates = [
        {"template_id": "t#1", "source": "s", "pattern": r"^ab (?P<v1>\d+)", "created_at": 1}
    ]
    df = spark.createDataFrame(
        [("d1", "s", "ab 12"), ("d2", "s", "ab 12 trailing")],
        "doc_id string, source string, content string",
    )
    got = {r.doc_id: r.template_id for r in match_templates(spark, df, templates).collect()}
    assert got == {"d1": "t#1", "d2": None}


def test_py_fallback_backtracks_into_end_anchor(spark):
    """RE2-incompatible patterns (backrefs) run on the Python engine; the
    full-line check must let backtracking pick a later alternative instead of
    rejecting after the first unanchored match (ADVICE: rx.fullmatch, not
    match()+end-length)."""
    # backreference forces the py engine; alt 1 matches a PREFIX of the line,
    # alt 2 matches the whole line — only fullmatch backtracks into alt 2
    pattern = r"(?P<a>x)(?P=a)|(?P<b>x)(?P=b)y"
    assert compile_regex(pattern, full_line=True).re2 is None
    templates = [{"template_id": "t#1", "source": "s", "pattern": pattern, "created_at": 1}]
    df = spark.createDataFrame(
        [("d1", "s", "xxy"), ("d2", "s", "xx"), ("d3", "s", "xxz")],
        "doc_id string, source string, content string",
    )
    got = {r.doc_id: r.template_id for r in match_templates(spark, df, templates).collect()}
    assert got == {"d1": "t#1", "d2": "t#1", "d3": None}


def test_match_applies_each_library_in_one_session(spark):
    """Two one-template libraries whose CRC32 fingerprints collide: matching
    under each in turn (Python workers reused) applies each library's own
    pattern."""

    def library(suffix):
        pattern = rf"^item (?P<v1>[0-9]+) {suffix}$"
        return [{"template_id": "t#1", "source": "s", "pattern": pattern, "created_at": 1}]

    lib_a, lib_b = library("c50963c80102"), library("d3f504638284")
    df = spark.createDataFrame(
        [("d1", "s", "item 7 c50963c80102"), ("d2", "s", "item 7 d3f504638284")],
        "doc_id string, source string, content string",
    ).coalesce(1)
    for lib, hit, miss in ((lib_a, "d1", "d2"), (lib_b, "d2", "d1")):
        got = {r.doc_id: r.template_id for r in match_templates(spark, df, lib).collect()}
        assert got == {hit: "t#1", miss: None}


def test_mixed_named_and_unnamed_template_runs_on_re2():
    """Unnamed groups get synthetic ``g<k>`` names so RE2 runs the pattern;
    the variables hold only the pattern's own named groups."""
    pattern = r"^(\w+) (?P<v1>\d+) ([a-z]+)$"
    assert compile_regex(pattern, full_line=True).re2 is not None
    lib = [{"template_id": "t#1", "source": "s", "pattern": pattern, "created_at": 1}]
    tids, varmaps = match_batch(["ab 12 cd", "ab 12"], ["s", "s"], lib)
    assert list(tids) == ["t#1", None] and list(varmaps) == [{"v1": "12"}, None]


@pytest.mark.parametrize(
    "pattern",
    [
        r"^a(?P<v1>b)?$",
        r"^a(?:(?P<v1>b) )*$",
        r"^a (?P<v1>b)$|^a(?P<v2>)$",
        r"^a(?:(?P<v1>b)c)?$",
    ],
    ids=["optional", "star", "alternation", "nested"],
)
def test_group_that_misses_the_match_is_absent(pattern):
    """A named group that takes no part in a match is absent from the
    variables, as under Python ``re`` and ``oracle.oracle_match``; RE2 would
    read it as ``""``, so such a pattern runs on Python ``re``."""
    lib = [{"template_id": "t#1", "source": "s", "pattern": pattern, "created_at": 1}]
    tids, varmaps = match_batch(["a"], ["s"], lib)
    assert list(tids) == ["t#1"]
    expected = {g: v for g, v in re.fullmatch(pattern, "a").groupdict().items() if v is not None}
    assert varmaps[0] == expected
    assert compile_regex(pattern, full_line=True).re2 is None


@pytest.mark.parametrize(
    "body, text, owned",
    [
        (r"\w+", "café", False),
        (r"n=\d", "n=٣", False),
        (r"a\sb", "a\xa0b", False),
        (r"a\sb", "a\x0bb", False),
        (r"a\Sb", "a\x0bb", True),
        (r"a[^\s]b", "a\x0bb", True),
        (r"a\bé", "aé", True),
    ],
    ids=["w-letter", "d-digit", "s-nbsp", "s-vtab", "S-vtab", "not-s-class", "b-boundary"],
)
def test_class_rule_is_re2s_on_every_engine(body, text, owned):
    """``\\w``, ``\\d``, ``\\s`` and ``\\b`` read a line as RE2 does
    whichever engine runs the pattern: ASCII classes, ``\\s`` without
    ``\\x0b``. The template on RE2, the same template forced onto Python
    ``re`` and its optional-group twin (which lands on Python ``re``) give
    one owner and the same variables."""
    line, on_re2, on_re = f"{text} ok", rf"^(?P<v1>{body}) ok$", rf"^(?P<v1>{body})? ok$"
    assert compile_regex(on_re2, True).re2 is not None and compile_regex(on_re, True).re2 is None
    expected = ("t#1", {"v1": text}) if owned else (None, None)
    for pattern in (on_re2, on_re):
        lib = [{"template_id": "t#1", "source": "s", "pattern": pattern, "created_at": 1}]
        tids, varmaps = match_batch([line], ["s"], lib)
        assert (tids[0], varmaps[0]) == expected, pattern
    forced = dataclasses.replace(compile_regex(on_re2, True), re2=None)
    hits = first_match(pa.array([line]), np.arange(1), [forced])
    got = [(list(rows), won.to_pylist()) for _, rows, won in hits]
    assert got == ([([0], [{"v1": text}])] if owned else [])


@pytest.mark.parametrize("pattern", [r"(?i)^k ok$", r"^(?i:k) ok$", r"^(?u:\w) ok$"])
def test_case_insensitive_or_unicode_flag_raises(pattern):
    """RE2 folds case by Unicode (K and U+212A, s and U+017F), ``re.ASCII``
    only in ASCII, so no head or template may ask for either flag."""
    for compile_ in (python_regex, lambda p: compile_regex(p, True)):
        with pytest.raises(ValueError, match="flag"):
            compile_(pattern)


@pytest.mark.parametrize("pattern", [r"^a{,2}$", r"^[[:digit:]]$"], ids=["open-repeat", "posix-class"])
def test_syntax_re2_reads_otherwise_raises(pattern):
    """``{,`` is a literal on RE2 and a 0–n repeat on Python ``re``; ``[:``
    in a class is RE2's POSIX class and plain characters on Python ``re``."""
    for compile_ in (python_regex, lambda p: compile_regex(p, True)):
        with pytest.raises(ValueError, match="which RE2 reads otherwise"):
            compile_(pattern)


def test_dollar_is_end_of_text_on_every_engine(spark, tmp_path):
    """``$`` does not match before a final newline: RE2 reads it as the end
    of the text, and so do the same head forced onto Python ``re``, the
    parse stage and ``oracle.oracle_match``; under ``(?m)`` it does."""
    head = r"^x (?P<content>.*)$"
    regex = compile_regex(head, full_line=False)
    assert regex.re2 is not None
    for r in (regex, dataclasses.replace(regex, re2=None)):
        assert list(first_match(pa.array(["x ab\n"]), np.arange(1), [r])) == []
    assert python_regex("(?m)" + head).match("x ab\n")["content"] == "ab"
    d = _write_fixture(str(tmp_path), ["x ab\n", "x ab"], head, 1, [])
    vocab_rows, source_heads, _ = load_dims(spark, d)
    seq = spark.read.parquet(f"{d}/sequences.parquet")
    parsed = parse_stage(spark, seq, vocab_rows, source_heads).collect()
    got = {r.doc_id: (r.content, r.head_matched) for r in parsed}
    assert got == {m.doc_id: (m.content, m.head_matched) for m in oracle_match(d)}
    assert {k: c for k, (c, matched) in got.items() if matched} == {"d1": "ab"}


def test_fixture_patterns_run_on_re2(fixture_dir):
    """No fixture head or template has a group that can miss a match (the one
    ``?`` is a literal ``\\?``): all 6 heads and 48 templates stay on RE2."""
    heads = [r["head_pattern"] for r in load_fixture_table(fixture_dir, "sources")]
    templates = [r["pattern"] for r in load_fixture_table(fixture_dir, "templates")]
    engines = Counter(
        ("re2" if compile_regex(p, full_line).re2 else "re", full_line)
        for patterns, full_line in ((heads, False), (templates, True))
        for p in patterns
    )
    assert engines == {("re2", False): 6, ("re2", True): 48}


def _write_fixture(d: str, lines: list[str], head: str, group: int, templates: list[dict]) -> str:
    """A one-source fixture dir holding ``lines`` under ``head``."""
    words = sorted({w for line in lines for w in line.split(" ")})
    tokens = [[words.index(w) for w in line.split(" ")] for line in lines]
    for name, cols in {
        "vocab": {"token_id": range(len(words)), "text": words},
        "sources": {"source": ["s"], "head_pattern": [head], "content_group": [group], "sink": ["sink-s"]},
        "templates": {
            c: [t[c] for t in templates] for c in ("template_id", "source", "pattern", "created_at")
        },
        "sequences": {
            "doc_id": [f"d{i}" for i in range(len(lines))],
            "tokens": tokens,
            "n_tok": [len(t) for t in tokens],
            "source": ["s"] * len(lines),
        },
    }.items():
        pq.write_table(pa.table({c: list(v) for c, v in cols.items()}), f"{d}/{name}.parquet")
    return d


@pytest.mark.parametrize(
    "head, group, on_re2, doc, content",
    [
        (r"^[(](\d+)[)] (\S+) (.*)$", 3, True, "d0", "the message"),
        (r"^(\d+) (?<=\d )(\S+) (.*)$", 3, False, "d1", "the message"),
        (r"^(\w+) \1 (.*)$", 2, False, "d2", "rest of it"),
    ],
    ids=["paren-in-class", "lookbehind", "backreference"],
)
def test_parse_heads_agree_with_oracle(spark, tmp_path, head, group, on_re2, doc, content):
    """Head content comes from the configured group on both engines: a ``(``
    inside a character class is no group, and heads RE2 rejects parse on
    Python ``re``; either way as ``oracle.oracle_match`` parses them."""
    assert (compile_regex(head, full_line=False).re2 is not None) == on_re2
    lines = ["(12) host the message", "12 host the message", "ab ab rest of it", "x y"]
    d = _write_fixture(str(tmp_path), lines, head, group, [])
    vocab_rows, source_heads, _ = load_dims(spark, d)
    seq = spark.read.parquet(f"{d}/sequences.parquet")
    parsed = parse_stage(spark, seq, vocab_rows, source_heads).collect()
    got = {r.doc_id: (r.content, r.head_matched) for r in parsed}
    assert got == {m.doc_id: (m.content, m.head_matched) for m in oracle_match(d)}
    assert {k: c for k, (c, matched) in got.items() if matched} == {doc: content}
    with pytest.raises(ValueError, match=f"no content group {group + 1}"):
        parse_stage(spark, seq, vocab_rows, {"s": (head, group + 1)})


def test_oracle_matches_the_whole_line(tmp_path):
    """An unanchored template whose alternation tries its shorter branch
    first owns a line its longer branch spans: ``oracle_match`` matches the
    whole line, as ``match_batch`` does."""
    template = {"template_id": "t#1", "source": "s", "pattern": "(?:a|ab)", "created_at": 1}
    d = _write_fixture(str(tmp_path), ["x ab"], r"^(\S+) (.*)$", 2, [template])
    (m,) = oracle_match(d)
    assert (m.content, m.template_id) == ("ab", "t#1")
    assert list(match_batch(["ab"], ["s"], [template])[0]) == ["t#1"]
