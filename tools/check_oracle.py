"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at sf0.01 and the
matching ``oracle_sql()`` on DuckDB over the same parquet, then compares
row-count, schema (sorted column names) and an order-insensitive value
multiset. Strictest possible compare (exact cell equality after
normalization) — if this passes, any sane driver hash matches.

Usage: python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import datetime as dt
import math
import sys
import time
import traceback

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# override with SPARK_GRAFT_ORACLE_SF_DIR to gate at another scale
# (e.g. sf0.1 as a scale-sensitivity soak)
import os

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def connect(sf_dir: str = SF_DIR) -> "duckdb.DuckDBPyConnection":
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """Differences between a Spark result and its DuckDB oracle: schema
    (sorted column names), row count, then the normalized value
    multiset. Empty when they match."""
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        a, b = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values: first diffs {diff}")
    return problems


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    from victorialogs_spark.session import get_spark

    spark = get_spark("check-oracle")
    con = connect()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(SF_DIR)
    names = argv or list(qs)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in names:
        t0 = time.monotonic()
        try:
            df = qs[name](spark, SF_DIR)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=3)
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(s_rows)} rows (no oracle)"
                  f"  [{time.monotonic()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = compare(s_cols, s_rows, d_cols, d_rows)
        if problems:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            n_pass += 1
            print(f"ok    {name}: {len(s_rows)} rows  [{time.monotonic()-t0:.1f}s]")
    print(
        f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL"
        + (f": {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
