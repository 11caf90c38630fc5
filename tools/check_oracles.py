"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
width, and order-insensitive values. Before it runs, it deletes the cached
``data/runs`` dirs that an older engine source left behind.

Usage: python tools/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows: list[tuple]) -> list[tuple]:
    def norm_val(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):
            return round(v, 6)
        return v

    return sorted(tuple(norm_val(v) for v in r) for r in rows)


def prune_stale_runs(runs_dir: str, digest: str) -> list[str]:
    """Delete the ``<sf>[-kind]-v*-<digest>`` run dirs whose digest is not
    ``digest``; returns the deleted names. Only this tool prunes: a library
    call never deletes another process's run dirs."""
    if not os.path.isdir(runs_dir):
        return []
    stale = [
        name
        for name in sorted(os.listdir(runs_dir))
        if (m := re.fullmatch(r".+-v[0-9.]+-([0-9a-f]{12})", name)) and m.group(1) != digest
    ]
    for name in stale:
        shutil.rmtree(os.path.join(runs_dir, name))
    return stale


def main() -> int:
    import __spark_entry__ as entry_mod
    from log_parser_cli_spark.entry_impl import _runs_base
    from log_parser_cli_spark.plans.checkpoint import source_digest
    from log_parser_cli_spark.session import get_spark

    for name in prune_stale_runs(_runs_base(), source_digest()):
        print(f"pruned stale run cache {name}")

    only = set(sys.argv[1:])
    # no console progress bar: its un-terminated stderr lines would split
    # the per-query lines of a combined log
    spark = get_spark(app_name="check-oracles", cores=16, extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    ok = ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle — rows-only check) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(sql)
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        sn, dn = normalize(s_rows), normalize(d_rows)
        schema_ok = len(s_cols) == len(d_cols) and [c.lower() for c in s_cols] == [c.lower() for c in d_cols]
        if sn == dn and schema_ok:
            ok += 1
            print(f"OK    {name}: {len(sn)} rows match [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            print(f"FAIL  {name}: rows {len(sn)} vs {len(dn)}, schema_ok={schema_ok}")
            print(f"      spark cols: {s_cols}\n      duck  cols: {d_cols}")
            sset, dset = set(sn), set(dn)
            for r in list(sset - dset)[:3]:
                print(f"      only-spark: {r}")
            for r in list(dset - sset)[:3]:
                print(f"      only-duck:  {r}")
    spark.stop()
    print(f"\n{ok}/{ran} OK, {len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
