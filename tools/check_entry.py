"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at sf0.01 and compare against its
``oracle_sql()`` twin in DuckDB — row count, sorted schema, and an
order-insensitive value hash over stringified cells.

Usage: python tools/check_entry.py [query ...]

Each argument is an exact query name or a shell-style pattern
(``'kg_*'``); with none, every query runs.
"""

from __future__ import annotations

import fnmatch
import hashlib
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def table_hash(rows, cols_sorted):
    lines = sorted(
        "\x1f".join(norm_cell(row[c]) for c in cols_sorted) for row in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("check_entry").getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = sys.argv[1:]
    n_fail = 0
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sorted(sdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok    {name}: rows-only {len(srows)} rows ({dt:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols_raw = rel.columns
            drows = [dict(zip(dcols_raw, row)) for row in rel.fetchall()]
            dcols = sorted(dcols_raw)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if scols != dcols:
            problems.append(f"cols {scols} vs {dcols}")
        elif table_hash(srows, scols) != table_hash(drows, dcols):
            problems.append("value-hash mismatch")
            sset = {tuple(norm_cell(r[c]) for c in scols) for r in srows}
            dset = {tuple(norm_cell(r[c]) for c in dcols) for r in drows}
            s_only = list(sset - dset)[:3]
            d_only = list(dset - sset)[:3]
            if s_only:
                problems.append(f"spark-only e.g. {s_only}")
            if d_only:
                problems.append(f"duckdb-only e.g. {d_only}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(str(p) for p in problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows ({dt:.1f}s)")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
