"""Regex masking of variable-shaped words → canonical signatures.

The reference discovers variables with an LLM and generalizes each value by
character shape (src/common/regex-builder.ts:130-161). We replace discovery
with deterministic masking: a word whose shape says "variable" (number, hex id,
IP, path, timestamp, uuid) becomes a mask token; the masked word sequence is
the line's canonical *signature*. Lines from one template share a signature, so
template clustering degrades to a hash group-by — no per-row regex at scale.

Crucially the mask classes are a function of the *word* alone, so on a
pre-tokenized corpus they can be precomputed once on the (tiny) vocab and
applied per row with a vectorized ``np.take`` — this is what makes the parse
stage O(tokens) with zero per-row regex work.

Mask tokens deliberately contain ``\x00`` so they can never collide with real
log words; ``signature_to_star`` folds them all to ``<*>`` for eval parity with
the reference's normalization (benchmark/run-eval.js:114-118).
"""

from __future__ import annotations

import re

# Order matters: first match wins (a word is classified once); classes are ASCII.
MASK_RULES: list[tuple[str, re.Pattern[str]]] = [
    ("TS", re.compile(r"^\d{4}-\d{2}-\d{2}(?:[T ]\d{2}:\d{2}:\d{2}(?:[.,]\d+)?Z?)?$", re.ASCII)),
    ("TIME", re.compile(r"^\d{2}:\d{2}(?::\d{2})?(?:[.,]\d+)?$", re.ASCII)),
    ("IP", re.compile(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(?::\d+)?$", re.ASCII)),
    ("UUID", re.compile(r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$", re.ASCII)),
    ("HEX", re.compile(r"^(?:0x[0-9a-fA-F]+|(?=[0-9a-fA-F]*\d)[0-9a-fA-F]{6,})$", re.ASCII)),
    ("NUM", re.compile(r"^[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?%?$", re.ASCII)),
    ("PATH", re.compile(r"^/(?:[A-Za-z0-9_.\-]+/)*[A-Za-z0-9_.\-]+/?$", re.ASCII)),
    ("PFX", re.compile(r"^([A-Za-z][A-Za-z_]*_)(\d+)$", re.ASCII)),  # blk_1234 → blk_<NUM>
    ("KV", re.compile(r"^([A-Za-z][A-Za-z0-9_]*)=(\S+)$", re.ASCII)),  # key=value → key=<mask>
]

# \x00 guard: no real token can equal a mask token.
MASK_TOKENS: dict[str, str] = {name: f"\x00{name}\x00" for name, _ in MASK_RULES}


def mask_word(word: str) -> str:
    """Classify one word: returns the word itself or a mask token.

    ``key=value`` words keep the key literal and mask only the value part when
    the value itself is variable-shaped.
    """
    for name, rx in MASK_RULES:
        m = rx.match(word)
        if not m:
            continue
        if name == "KV":
            key, value = m.group(1), m.group(2)
            masked_value = mask_word(value)
            if masked_value != value:
                return f"{key}={masked_value}"
            return word
        if name == "PFX":
            return f"{m.group(1)}{MASK_TOKENS['NUM']}"
        return MASK_TOKENS[name]
    return word


_MASK_IN_SIG = re.compile("\x00[A-Z]+\x00")


def signature_to_star(sig: str) -> str:
    """Fold every mask token (incl. inside key=value) to ``<*>``."""
    return _MASK_IN_SIG.sub("<*>", sig)
