"""Driver-contract smoke: entry() runs, queries() and oracle_sql() align."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 20
    # every oracle refers to an existing query
    assert set(oracles) <= set(qs)
    # every query is oracle-checked (ann_ivf gained a full SQL twin once
    # centroids became deterministic literals)
    assert set(qs) == set(oracles)
    assert len(qs) >= 25


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"source", "template_star", "n_sequences"} <= set(df.columns)
    assert sum(r.n_sequences for r in rows) > 0


def test_run_dirs_are_keyed_on_the_engine_source(tmp_path):
    """A one-byte change anywhere in the package names fresh cached run dirs."""
    import shutil

    from log_parser_cli_spark import entry_impl
    from log_parser_cli_spark.plans import checkpoint

    pkg = checkpoint._PKG_DIR
    same, changed = str(tmp_path / "same"), str(tmp_path / "changed")
    for dst in (same, changed):
        shutil.copytree(pkg, dst, ignore=shutil.ignore_patterns("__pycache__"))
    src = os.path.join(changed, "plans", "library_ops.py")
    data = open(src, "rb").read()
    with open(src, "wb") as f:
        f.write(data[:-1] + bytes([data[-1] ^ 1]))
    digest = checkpoint.source_digest()
    assert checkpoint.source_digest(same) == digest
    assert checkpoint.source_digest(changed) != digest
    assert entry_impl._run_dir("/fx/sf0.01", "refine").endswith(f"-{digest}")
