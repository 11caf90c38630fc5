"""Text analysis for training-data pipelines: token counts, quality scores,
language-ID heuristic, document fingerprinting (winnowing).

Everything is pure-Catalyst column math with engine-portable hashing, so each
operator has a bit-exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from log_parser_cli_spark.extras.dedup import hash32

# Tiny per-language stopword tables (public, common knowledge) for a crude
# n-gram-free language-ID heuristic: argmax of stopword hits.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "que", "por"],
}


def words_expr(text_col: str) -> str:
    return f"split(lower({text_col}), ' ')"


def token_count(text_col: str) -> Column:
    """Whitespace token count (the graft's n_tok analog for raw text)."""
    return F.size(F.expr(words_expr(text_col))).cast("long")


def quality_score(text_col: str, n_chars_col: str) -> Column:
    """Deterministic [0,1] quality heuristic: length, lexical diversity,
    chars-per-word sanity. Identical formula in the DuckDB oracle."""
    words = words_expr(text_col)
    n_words = f"CAST(size({words}) AS DOUBLE)"
    n_unique = f"CAST(size(array_distinct({words})) AS DOUBLE)"
    return F.round(
        F.expr(
            f"0.4 * least(1.0, {n_words} / 80.0)"
            f" + 0.4 * ({n_unique} / greatest({n_words}, 1.0))"
            f" + 0.2 * least(1.0, CAST({n_chars_col} AS DOUBLE) / ({n_words} * 8.0))"
        ),
        4,
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit argmax language guess; 'und' (undetermined) when no hits.

    Ties break alphabetically for determinism.
    """
    words = words_expr(text_col)
    hit_cols = [
        F.expr(
            f"size(array_intersect({words}, array({', '.join(repr(w) for w in ws)})))"
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


def fingerprint_count(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): hash k-gram shingles,
    take the min hash in every sliding window of ``window`` consecutive
    k-grams, count the distinct selected hashes per doc.

    Pure window functions — expressible identically in the SQL oracle.
    """
    words = words_expr(text_col)
    grams = (
        f"CASE WHEN size({words}) < {k} THEN array() "
        f"ELSE transform(sequence(0, size({words}) - {k}),"
        f" i -> array_join(slice({words}, i + 1, {k}), ' ')) END"
    )
    g = df.select(
        F.col(id_col).alias("doc"), F.posexplode(F.expr(grams)).alias("pos", "gram")
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
