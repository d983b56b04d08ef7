"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count + column names + order-insensitive values.

Usage:
    python -m tests.driver_contract_check [--name QUERY ...] [--sf DIR]

``--name`` repeats (``--name a --name b``): only those queries run, and
the ``entry()`` smoke is skipped.
"""

from __future__ import annotations

import argparse
import math
import os
import sys

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _normalize(df):
    """pandas frame -> sorted rows of sorted columns, floats canonicalized."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.6f}"
            return f"{v:.6f}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    rows = [tuple(canon(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def check_one(spark, con, name: str, fn, sql: str | None, sf_dir: str) -> dict:
    sdf = fn(spark, sf_dir).toPandas()
    if sql is None:
        return {"name": name, "mode": "rows-only", "rows": len(sdf),
                "ok": len(sdf) >= 0}
    ddf = con.execute(sql).fetchdf()
    s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
    if s_cols != d_cols:
        return {"name": name, "ok": False,
                "why": f"columns differ: spark={s_cols} duckdb={d_cols}"}
    if len(sdf) != len(ddf):
        return {"name": name, "ok": False,
                "why": f"rowcount differ: spark={len(sdf)} duckdb={len(ddf)}"}
    s_rows, d_rows = _normalize(sdf), _normalize(ddf)
    if s_rows != d_rows:
        diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
        return {"name": name, "ok": False, "rows": len(sdf),
                "why": f"values differ, first diffs: {diffs}"}
    return {"name": name, "mode": "oracle", "rows": len(sdf), "ok": True}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--name", action="append")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from cc_extract.session import build_session

    qs = entry_mod.queries()
    unknown = sorted(set(args.name or ()) - qs.keys())
    if unknown:
        ap.error(f"unknown query names: {unknown}")
    spark = build_session(cpus=4, app_name="contract-check", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    oracles = entry_mod.oracle_sql()
    failed = 0
    for name, fn in qs.items():
        if args.name and name not in args.name:
            continue
        try:
            r = check_one(spark, con, name, fn, oracles.get(name), args.sf)
        except Exception as e:  # noqa: BLE001
            r = {"name": name, "ok": False, "why": f"exception: {e!r:.300}"}
        status = "OK  " if r["ok"] else "FAIL"
        print(f"{status} {name:28s} {r.get('mode','?'):9s} rows={r.get('rows','?')} "
              f"{r.get('why','')}")
        failed += 0 if r["ok"] else 1

    # entry() smoke
    if not args.name:
        edf = entry_mod.entry(spark)
        n = edf.count()
        print(f"{'OK  ' if n > 0 else 'FAIL'} entry()                      rows={n}")
        failed += 0 if n > 0 else 1

    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
