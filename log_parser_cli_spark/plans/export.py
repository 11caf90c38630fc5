"""Template-library export: Drain mapping → the reference's regex library.

The reference's durable artifact is a library of LogTemplateDefinition rows —
⟪value⟫-annotated placeholder templates with compiled anchored regexes
(src/types/template.ts:12-23, persisted via sqlite-template-manager.ts:90-110).
Our engine clusters in masked-signature space; this module converts each
discovered cluster back into that artifact so a user of the reference gets
the same library export and can run the regex ``--match-only`` path against
discovery output:

1. one sample row per template (first by doc_id — deterministic),
2. placeholder: zip the sample's content words against the cluster star;
   each ``<*>``-bearing star word contributes ``prefix⟪value⟫suffix``
   (the embedded-value encoding, template-variable-extractor.ts:8-29),
3. compile via the F3/F5 regex builder (escaped literals + value-shape
   inference) and anchor (P9).

Consistency theorem (tested + oracle-checked): matching the corpus with the
EXPORTED regex library reproduces the signature pipeline's per-template
counts exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_parser_cli_spark.functions.templates import (
    END,
    START,
    anchor_pattern,
    build_regex_from_template,
)


def placeholder_from_star(content: str, star: str) -> str:
    """⟪⟫-annotate one sample line using its cluster star.

    Star words containing ``<*>`` mark variable words; the sample's word at
    that position supplies the embedded value (prefix/suffix literals around
    the ``<*>`` are preserved, e.g. star ``blk_<*>`` + word ``blk_123`` →
    ``blk_⟪123⟫``).
    """
    content_words = content.split(" ")
    star_words = star.split(" ")
    if len(content_words) != len(star_words):
        # structural mismatch (hand-edited mapping / foreign star): degrade
        # gracefully — embed the whole line as one value instead of aborting
        # the export (zip would silently truncate, then reconstruction fails)
        return f"{START}{content}{END}"
    out = []
    for word, star_word in zip(content_words, star_words):
        if "<*>" not in star_word:
            out.append(word)
            continue
        prefix, _, suffix = star_word.partition("<*>")
        if not (word.startswith(prefix) and word.endswith(suffix) and len(word) >= len(prefix) + len(suffix)):
            # star/sample disagree structurally — embed the whole word
            out.append(f"{START}{word}{END}")
            continue
        value = word[len(prefix) : len(word) - len(suffix) if suffix else len(word)]
        out.append(f"{prefix}{START}{value}{END}{suffix}")
    return " ".join(out)


def template_ordinal(template_id: str) -> int | None:
    """The dense per-source ordinal N of a ``source#N`` template id; None
    when the id carries no integer ordinal."""
    try:
        return int(template_id.rsplit("#", 1)[1])
    except (IndexError, ValueError):
        return None


def export_template_library(spark: SparkSession, enriched: DataFrame) -> list[dict]:
    """Discovered clusters → regex template library rows.

    ``enriched``: rows carrying (doc_id, source, content, template_id,
    template_star) — the enrich-stage output. One deterministic sample per
    template drives the placeholder; ``created_at`` is the template's dense
    per-source ordinal so regex precedence (O1) equals discovery order.
    Returns dicts compatible with ``operators.matcher.match_templates``.
    """
    w = Window.partitionBy("template_id").orderBy("doc_id")
    samples = (
        enriched.filter(~F.col("template_id").startswith("__"))
        .select("doc_id", "source", "template_id", "template_star", "content")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "doc_id")
        .collect()
    )
    library: list[dict] = []
    for r in sorted(samples, key=lambda r: r["template_id"]):
        placeholder = placeholder_from_star(r["content"], r["template_star"])
        built = build_regex_from_template(placeholder, r["content"])
        library.append(
            {
                "template_id": r["template_id"],
                "source": r["source"],
                "placeholder_template": placeholder,
                "pattern": anchor_pattern(built.pattern),
                "template_star": r["template_star"],
                "variables": built.variables,
                "created_at": template_ordinal(r["template_id"]) or 0,
            }
        )
    return library
