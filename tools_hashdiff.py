"""Driver-emulation gate: pandas-level diff of Spark vs DuckDB oracle.

The per-round driver compares ``queries()[name](spark, sf).toPandas()``
against ``duckdb.execute(oracle_sql()[name]).df()`` (columns sorted by
name, rows sorted, values hashed by repr).  DuckDB's ``.df()`` turns
DECIMAL and HUGEINT (any integer ``sum``) into float64 while Spark keeps
Decimal objects / int64 — a value-identical result can still hash-differ.
This tool reproduces that comparison locally, cell by cell, so a hash
regression is caught before the driver runs.

Usage: python tools_hashdiff.py [query ...]   (default: all oracled)
"""

from __future__ import annotations

import math
import pathlib
import sys

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    """Value as the driver's repr-hash would plausibly see it."""
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    return repr(v)


def _cells(df):
    """pandas DataFrame -> (sorted cols, sorted rows of canon reprs)."""
    cols = sorted(df.columns)
    rows = [
        tuple(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


def main(names):
    from polars_genson_spark.session import get_spark

    spark = get_spark(app_name="hashdiff")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs = E.queries()
    osql = E.oracle_sql()
    names = names or [n for n in qs if n in osql]
    bad = []
    for name in names:
        try:
            scols, srows = _cells(qs[name](spark, SF).toPandas())
            ocols, orows = _cells(con.execute(osql[name]).df())
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {exc}")
            bad.append(name)
            continue
        if scols != ocols:
            print(f"{name}: COLUMN MISMATCH {scols} vs {ocols}")
            bad.append(name)
            continue
        if len(srows) != len(orows):
            print(f"{name}: ROWCOUNT {len(srows)} vs {len(orows)}")
            bad.append(name)
            continue
        ndiff = 0
        for i, (sr, orr) in enumerate(zip(srows, orows)):
            for c, sv, ov in zip(scols, sr, orr):
                if sv != ov:
                    ndiff += 1
                    if ndiff <= 8:
                        print(f"{name}: row {i} col {c}: {sv} vs {ov}")
        if ndiff:
            print(f"{name}: {ndiff} differing cells")
            bad.append(name)
        else:
            print(f"{name}: OK ({len(srows)} rows)")
    print(f"\n{len(names) - len(bad)}/{len(names)} green"
          + (f"; FAILING: {bad}" if bad else ""))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
