"""Text analysis for training-data pipelines: token counts, quality scores,
language-ID heuristic, document fingerprinting (winnowing).

Everything is pure-Catalyst column math with engine-portable hashing, so each
operator has a bit-exact DuckDB oracle twin. Every operator reads the
documents table's ``doc_id`` / ``text`` / ``n_chars`` columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from log_parser_cli_spark.extras.dedup import ID_COL, TEXT_COL, hash32

N_CHARS_COL = "n_chars"
WORDS = f"split(lower({TEXT_COL}), ' ')"
FINGERPRINT_K = 3  # words per winnowing k-gram
FINGERPRINT_WINDOW = 4  # k-grams per winnowing window

# Tiny per-language stopword tables (public, common knowledge) for a crude
# n-gram-free language-ID heuristic: argmax of stopword hits.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "que", "por"],
}


def token_count() -> Column:
    """Whitespace token count (the graft's n_tok analog for raw text)."""
    return F.size(F.expr(WORDS)).cast("long")


def quality_score() -> Column:
    """Deterministic [0,1] quality heuristic: length, lexical diversity,
    chars-per-word sanity. Identical formula in the DuckDB oracle."""
    n_words = f"CAST(size({WORDS}) AS DOUBLE)"
    n_unique = f"CAST(size(array_distinct({WORDS})) AS DOUBLE)"
    return F.round(
        F.expr(
            f"0.4 * least(1.0, {n_words} / 80.0)"
            f" + 0.4 * ({n_unique} / greatest({n_words}, 1.0))"
            f" + 0.2 * least(1.0, CAST({N_CHARS_COL} AS DOUBLE) / ({n_words} * 8.0))"
        ),
        4,
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-hit argmax language guess; 'und' (undetermined) when no hits.

    Ties break alphabetically for determinism.
    """
    hit_cols = [
        F.expr(
            f"size(array_intersect({WORDS}, array({', '.join(repr(w) for w in ws)})))"
        ).alias(f"hits_{lang}")
        for lang, ws in STOPWORDS.items()
    ]
    scored = df.select("*", *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    cascade = None
    for lang in sorted(STOPWORDS):  # alphabetical tie-break, first max wins
        cond = (best > 0) & (F.col(f"hits_{lang}") == best)
        cascade = F.when(cond, F.lit(lang)) if cascade is None else cascade.when(cond, F.lit(lang))
    return scored.withColumn("lang_guess", cascade.otherwise(F.lit("und"))).drop(
        *[f"hits_{lang}" for lang in STOPWORDS]
    )


def fingerprint_count(df: DataFrame) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): hash word k-gram
    shingles (k = ``FINGERPRINT_K``), take the min hash in every sliding
    window of ``FINGERPRINT_WINDOW`` consecutive k-grams, count the distinct
    selected hashes per doc.

    Pure window functions — expressible identically in the SQL oracle.
    """
    k, window = FINGERPRINT_K, FINGERPRINT_WINDOW
    grams = (
        f"CASE WHEN size({WORDS}) < {k} THEN array() "
        f"ELSE transform(sequence(0, size({WORDS}) - {k}),"
        f" i -> array_join(slice({WORDS}, i + 1, {k}), ' ')) END"
    )
    g = df.select(
        F.col(ID_COL).alias("doc"), F.posexplode(F.expr(grams)).alias("pos", "gram")
    ).withColumn("h", F.expr(hash32("gram", seed="fp")))
    w = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, window - 1)
    mins = (
        g.withColumn("wmin", F.min("h").over(w))
        .withColumn("maxpos", F.max("pos").over(Window.partitionBy("doc")))
        .filter(F.col("pos") <= F.col("maxpos") - (window - 1))
    )
    return mins.groupBy("doc").agg(
        F.countDistinct("wmin").cast("long").alias("n_fingerprints")
    )
