"""Overbroad-template detection via compression-gain statistics (A10).

Behavioral twin of the reference's check-overbroad analysis
(benchmark/check-overbroad.js:70-132): for each template cluster, compare the
gzip-compressed size of the raw lines against template + per-variable values.
A template whose variables compress almost as well as the raw lines is
"overbroad" — its variables carry structure the template should have captured.

Needs arbitrary Python (zlib) per group → ``applyInPandas`` (the UDAF analog
in SURVEY.md §2.10). Groups are template clusters (tiny row counts after
sampling), so the Python stage touches a bounded slice of the data.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Shared with the oracle twin (entry_impl._compression_gain_twin_sql), so
# both sides move together.
GAIN_THRESHOLD = 0.2  # gain below this flags a template overbroad
MAX_ROWS_PER_TEMPLATE = 200  # doc_id-smallest rows per template the stats read
REPORT_TOP_N = 50  # flagged templates the persisted report keeps

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("template_id", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("raw_gzip_bytes", T.LongType()),
        T.StructField("template_gzip_bytes", T.LongType()),
        T.StructField("vars_gzip_bytes", T.LongType()),
        T.StructField("compression_gain", T.DoubleType()),
        T.StructField("overbroad", T.BooleanType()),
    ]
)


def _gzip_len(s: str) -> int:
    return len(zlib.compress(s.encode("utf-8")))


def compression_gain_stats(enriched: DataFrame) -> DataFrame:
    """Per-template compression-gain stats; ``overbroad`` = gain below
    ``GAIN_THRESHOLD``.

    Takes the enrich-stage output (still carries content + word_vars).
    gain = 1 - (template + vars bytes) / raw bytes: how much representing rows
    as (template, variables) saves over raw text. Caps rows per template at
    ``MAX_ROWS_PER_TEMPLATE`` (W2-style) so group payloads stay bounded at any
    input scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("template_id").orderBy("doc_id")
    capped = (
        enriched.select("doc_id", "template_id", "content", "template_star", "word_vars")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= MAX_ROWS_PER_TEMPLATE)
        .drop("_rn")
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        # the window capped to the doc_id-smallest rows but group rows arrive
        # in partition order — sort so the gzip concatenation (and therefore
        # the byte counts) is deterministic and oracle-reproducible
        pdf = pdf.sort_values("doc_id")
        tid = pdf["template_id"].iloc[0]
        raws = "\n".join(pdf["content"].fillna(""))
        template = str(pdf["template_star"].iloc[0] or "")
        var_text = "\n".join(
            "|".join(str(x) for x in v) if v is not None and not isinstance(v, str) else ""
            for v in pdf["word_vars"]
        )  # v arrives as np.ndarray from the Arrow array<string> column
        raw_b = _gzip_len(raws)
        tpl_b = _gzip_len(template)
        var_b = _gzip_len(var_text)
        # threshold the ROUNDED gain — it is the published value, and the
        # oracle twin replays the same comparison (an unrounded compare
        # diverges in the [threshold - 5e-5, threshold) window)
        gain = round(1.0 - (tpl_b + var_b) / raw_b if raw_b else 0.0, 4)
        return pd.DataFrame(
            [
                {
                    "template_id": tid,
                    "n_rows": len(pdf),
                    "raw_gzip_bytes": raw_b,
                    "template_gzip_bytes": tpl_b,
                    "vars_gzip_bytes": var_b,
                    "compression_gain": gain,
                    "overbroad": gain < GAIN_THRESHOLD,
                }
            ]
        )

    return capped.groupBy("template_id").applyInPandas(stats, schema=RESULT_SCHEMA)


def routed_for_overbroad(routed: DataFrame) -> DataFrame:
    """Reconstruct (content, word_vars) from ROUTED rows — no re-parse.

    Matched rows carry (template_star, variables, n_vars); the original
    content is the star with every ``<*>``-bearing word replaced by the next
    variable word (exact at word level: a star word differs from the content
    word iff it contains ``<*>``). Lets the overbroad report run off the
    fan-out output instead of re-rendering the token table.
    """
    matched = routed.filter(~F.col("template_id").startswith("__"))
    return matched.withColumn(
        "word_vars",
        # sequence(1, 0) is DESCENDING [1, 0] in Spark — a zero-var template
        # must get an EMPTY array, not [null, null]
        F.expr(
            "CASE WHEN n_vars <= 0 THEN CAST(array() AS array<string>) "
            "ELSE transform(sequence(1, n_vars), i -> variables[concat('v', i)]) END"
        ),
    ).withColumn(
        "content",
        F.expr(
            "CASE WHEN template_star = '' THEN '' ELSE array_join(aggregate("
            " split(template_star, ' '),"
            " named_struct('k', 0, 'out', CAST(array() AS array<string>)),"
            " (acc, w) -> IF(instr(w, '<*>') > 0,"
            "   named_struct('k', acc.k + 1,"
            "     'out', concat(acc.out, array(element_at(word_vars, acc.k + 1)))),"
            "   named_struct('k', acc.k, 'out', concat(acc.out, array(w)))),"
            " acc -> acc.out), ' ') END"
        ),
    )


def write_overbroad_report(enriched: DataFrame, out_dir: str) -> str:
    """Persisted top-``REPORT_TOP_N`` flagged-templates report (O3):
    overbroad templates ordered by cluster size, written as JSON rows
    (check-overbroad.js:241-243's sort-desc + slice, materialized)."""
    import os

    stats = compression_gain_stats(enriched)
    path = os.path.join(out_dir, "overbroad_report")
    (
        stats.filter(F.col("overbroad"))
        .orderBy(F.desc("n_rows"), "template_id")
        .limit(REPORT_TOP_N)
        .coalesce(1)
        .write.mode("overwrite")
        .json(path)
    )
    return path
