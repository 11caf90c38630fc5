"""Template parsing / regex compilation — the reference's semantic core.

Reimplements (behavior, not code) the deterministic template machinery of the
reference CLI:

- ``parse_template_structure`` / ``extract_variables_from_template``: split a
  ``⟪value⟫``-annotated template into ordered text/var segments, read back the
  embedded values as ``v1..vN``, and verify byte-exact reconstruction
  (reference: src/common/template-variable-extractor.ts:30-132).
- ``build_regex_from_template``: text segments → escaped literals, var segments
  → named capture groups whose pattern is inferred from the value's character
  shape (reference: src/common/regex-builder.ts:34-161).
- ``normalize_placeholder``: ``⟪...⟫`` → ``<*>`` + whitespace squeeze
  (reference: benchmark/run-eval.js:114-118).

All of this runs driver-side at template-compile time (template cardinality is
tiny); the per-row hot path never calls these.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

START = "⟪"
END = "⟫"

_REGEX_SPECIAL = re.compile(r"[\\^$.*+?()\[\]{}|]")
_CONTROL = re.compile("[\\u0000-\\u001f\\u007f-\\u009f]")

# Special single characters → regex fragment. A literal space inside a variable
# value generalizes to \s+ (run-together whitespace tolerated), mirroring the
# reference's SPECIAL_SYMBOL_MAP (regex-builder.ts:84-121).
_SPECIAL_SYMBOL_MAP = {
    " ": r"\s+",
    "\t": r"\t",
    "\r": r"\r",
    "\n": r"\n",
    "_": "_",
}
for _ch in "!\"#$%&'()*+,-./:;<=>?@[\\]^`{|}~":
    _SPECIAL_SYMBOL_MAP[_ch] = "\\" + _ch

_ALNUM_RUN = re.compile(r"[A-Za-z0-9_/-]")


@dataclass
class TemplateSegment:
    kind: str  # "text" | "var"
    value: str


@dataclass
class ExtractedTemplate:
    variables: dict[str, str]
    order: list[str]
    segments: list[TemplateSegment]
    reconstructed: str


@dataclass
class BuiltRegex:
    pattern: str  # Python re syntax, named groups (?P<vN>...)
    variables: list[str]
    values: dict[str, str]
    reconstructed: str
    star_template: str = field(default="")


def parse_template_structure(template: str) -> list[TemplateSegment]:
    """Split a ⟪⟫-annotated template into ordered text/var segments.

    An unclosed ``⟪`` is treated as a literal single character (same recovery
    as the reference parser).
    """
    segments: list[TemplateSegment] = []
    cursor = 0
    n = len(template)
    while cursor < n:
        start_idx = template.find(START, cursor)
        if start_idx == -1:
            if n > cursor:
                segments.append(TemplateSegment("text", template[cursor:]))
            break
        if start_idx > cursor:
            segments.append(TemplateSegment("text", template[cursor:start_idx]))
        value_start = start_idx + 1
        value_end = template.find(END, value_start)
        if value_end == -1:
            segments.append(TemplateSegment("text", template[start_idx : start_idx + 1]))
            cursor = start_idx + 1
            continue
        segments.append(TemplateSegment("var", template[value_start:value_end]))
        cursor = value_end + 1
    return segments


def extract_variables_from_template(
    template: str, log_line: str | None = None, auto_fix: bool = True
) -> ExtractedTemplate:
    """Read embedded variable values ``v1..vN`` and verify reconstruction.

    Reconstruction invariant: concatenating segments (placeholders replaced by
    their embedded values) must equal ``log_line`` byte-for-byte. This is the
    reference's analog of our routed-row token-array equality check.

    On a reconstruction mismatch, ``auto_fix=True`` retries once via the
    duplication fixer before raising (the reference retries through
    fixDuplicatedVariables, src/common/template-variable-extractor.ts:61-66).
    """
    segments = parse_template_structure(template)
    if not segments:
        raise ValueError("Template contains no segments.")
    variables: dict[str, str] = {}
    order: list[str] = []
    parts: list[str] = []
    var_index = 0
    for seg in segments:
        if seg.kind == "text":
            parts.append(seg.value)
            continue
        var_index += 1
        name = f"v{var_index}"
        order.append(name)
        variables[name] = seg.value
        parts.append(seg.value)
    reconstructed = "".join(parts)
    if log_line is not None and reconstructed != log_line:
        if auto_fix:
            fixed, repaired = fix_duplicated_variables(template, log_line)
            if fixed:
                return extract_variables_from_template(repaired, log_line, auto_fix=False)
        raise ValueError(
            f"Template reconstruction does not match the log line. "
            f'Expected "{log_line}", got "{reconstructed}".'
        )
    return ExtractedTemplate(variables, order, segments, reconstructed)


def escape_regex_text(text: str) -> str:
    """Escape literal text for regex use; control chars become \\xNN."""
    escaped = _REGEX_SPECIAL.sub(lambda m: "\\" + m.group(0), text)
    return _CONTROL.sub(lambda m: f"\\x{ord(m.group(0)):02x}", escaped)


def _escape_special_char(ch: str) -> str:
    mapped = _SPECIAL_SYMBOL_MAP.get(ch)
    if mapped is not None:
        return mapped
    return escape_regex_text(ch)


def infer_regex_for_value(value: str) -> str:
    """Infer a matching pattern from a variable value's character shape.

    Alphanumeric runs (incl. ``_/-``) generalize to ``[A-Za-z0-9_/-]+``; each
    special symbol is escaped individually (space → ``\\s+``); an empty value
    becomes ``[^\\r\\n]*``. This is the reference's masking/generalization rule
    and the basis for our vocab mask classes.
    """
    if not value:
        return r"[^\r\n]*"
    parts: list[str] = []
    in_run = False
    for ch in value:
        if _ALNUM_RUN.match(ch):
            if not in_run:
                in_run = True
            continue
        if in_run:
            parts.append("[A-Za-z0-9_/-]+")
            in_run = False
        parts.append(_escape_special_char(ch))
    if in_run:
        parts.append("[A-Za-z0-9_/-]+")
    return "".join(parts)


def build_regex_from_template(template: str, sample: str | None = None) -> BuiltRegex:
    """Compile a ⟪⟫ template into an anchored-able regex with named groups."""
    parsed = extract_variables_from_template(template, sample)
    if not parsed.segments:
        raise ValueError("Template did not produce any annotated segments.")
    parts: list[str] = []
    star_parts: list[str] = []
    var_index = 0
    for seg in parsed.segments:
        if seg.kind == "text":
            parts.append(escape_regex_text(seg.value))
            star_parts.append(seg.value)
            continue
        var_index += 1
        name = parsed.order[var_index - 1] if var_index - 1 < len(parsed.order) else f"v{var_index}"
        parts.append(f"(?P<{name}>{infer_regex_for_value(seg.value)})")
        star_parts.append("<*>")
    return BuiltRegex(
        pattern="".join(parts),
        variables=parsed.order,
        values=parsed.variables,
        reconstructed=parsed.reconstructed,
        star_template=normalize_placeholder("".join(star_parts)),
    )


def anchor_pattern(pattern: str) -> str:
    """Wrap with ^...$ if not already anchored (full-line match semantics)."""
    p = pattern
    if not p.startswith("^"):
        p = "^" + p
    if not p.endswith("$"):
        p = p + "$"
    return p


_PLACEHOLDER = re.compile(r"⟪[^⟫]+⟫")
_WS = re.compile(r"\s+")


def normalize_placeholder(s: str | None) -> str:
    """⟪value⟫ → <*>, squeeze whitespace, trim (eval-normalization P6)."""
    if not s:
        return ""
    return _WS.sub(" ", _PLACEHOLDER.sub("<*>", s)).strip()


def fix_duplicated_variables(template: str, log_line: str) -> tuple[bool, str]:
    """Validation utility (F6): repair self-duplicated variable values.

    The reference's fixer recovers from an LLM pathology where a placeholder
    embeds its value twice (``⟪abcabc⟫`` for raw ``abc``,
    src/common/template-duplication-fixer.ts:38-141). Without an LLM this is a
    validation tool only: for each var segment whose value is an exact
    doubling, try halving it; accept the repair iff the repaired template
    reconstructs the log line byte-exactly. Returns (fixed, template).
    """
    segments = parse_template_structure(template)
    candidates: list[int] = []
    for i, seg in enumerate(segments):
        if seg.kind == "var" and len(seg.value) % 2 == 0 and len(seg.value) >= 2:
            half = seg.value[: len(seg.value) // 2]
            if half * 2 == seg.value:
                candidates.append(i)
    if not candidates:
        return False, template
    for i in candidates:
        repaired = list(segments)
        half = segments[i].value[: len(segments[i].value) // 2]
        repaired[i] = TemplateSegment("var", half)
        rebuilt = "".join(
            f"{START}{s.value}{END}" if s.kind == "var" else s.value for s in repaired
        )
        try:
            extract_variables_from_template(rebuilt, log_line)
        except ValueError:
            continue
        return True, rebuilt
    return False, template
