"""Text analysis: token counts, quality, lang-id, winnowing fingerprints."""

import pyspark.sql.functions as F
import pytest

from log_parser_cli_spark.extras.textstats import (
    fingerprint_count,
    lang_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat is in the house and it is warm", "en"),
        (2, "der hund ist nicht in das haus und die katze", "de"),
        (3, "le chat est dans la maison et les chiens", "fr"),
        (4, "el perro es un animal y la casa es grande", "es"),
        (5, "zzz qqq xxx yyy www", "und"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, true_lang string")


def test_token_count(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    assert df.select(token_count()).first()[0] == 4


def test_lang_id_heuristic(docs):
    got = {r.doc_id: r.lang_guess for r in lang_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_score_bounds(spark):
    rows = [(1, "word " * 100, 500), (2, "a a a a a", 9)]
    df = spark.createDataFrame(
        [(i, t.strip(), n) for i, t, n in rows], "id long, text string, n_chars long"
    )
    scores = {r.id: r.q for r in df.withColumn("q", quality_score()).collect()}
    assert 0 <= scores[2] < scores[1] <= 1.0  # repetitive short text scores lower


def test_fingerprints_deterministic_and_dup_invariant(spark):
    text = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words appear in this document here now")],
        "doc_id long, text string",
    )
    got = {r.doc: r.n_fingerprints for r in fingerprint_count(df).collect()}
    assert got[1] == got[2] > 0  # identical docs → identical fingerprint count
    assert got[3] > 0
