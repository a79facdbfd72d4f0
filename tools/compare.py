"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Usage: python tools/compare.py [sf_dir] [query ...]
Compares row count, column names, and order-insensitive value hash.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from mmgraphrag_spark.session import get_spark  # noqa: E402

TABLES = ["documents"]


def norm(df, cols):
    """Sort columns by name, round floats, stringify, sort rows."""
    df = df[sorted(cols)].copy()
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].round(6)
    rows = sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))
    return rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = oracle_connection(sf_dir)
    spark = get_spark("compare")
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in os_:
            print(f"{name}: rows={fn(spark, sf_dir).count()} (no oracle)")
            continue
        ok, report = compare(spark, con, sf_dir, name)
        print(f"{name}: {report}")
        if not ok:
            failed.append(name)
    print("FAILED:", failed or "none")
    return 1 if failed else 0


def oracle_connection(sf_dir: str):
    """DuckDB connection with a view of each input table the oracles read."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark, con, sf_dir: str, name: str) -> tuple[bool, str]:
    """Run registry query ``name`` in Spark and its DuckDB twin; return
    (parity, report). Parity means equal column names, equal row counts and
    equal ``norm`` rows; on a value mismatch the report names up to three
    rows found on one side only."""
    sdf = entrymod.queries()[name](spark, sf_dir).toPandas()
    odf = con.execute(entrymod.oracle_sql()[name]).df()
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    ok_schema = scols == ocols
    report = (
        f"spark_rows={len(sdf)} oracle_rows={len(odf)}"
        f" schema={'OK' if ok_schema else f'{scols} vs {ocols}'}"
    )
    ok = ok_schema and len(sdf) == len(odf)
    if ok:
        a, b = norm(sdf, scols), norm(odf, ocols)
        ok = a == b
        if not ok:
            sa, sb = set(a), set(b)
            report += (f"\n  spark-only: {[x for x in a if x not in sb][:3]}"
                       f"\n  oracle-only: {[x for x in b if x not in sa][:3]}")
    return ok, f"{'OK' if ok else 'FAIL'} {report}"


if __name__ == "__main__":
    raise SystemExit(main())
