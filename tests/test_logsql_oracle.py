"""LogsQL correctness gate that needs no reference checkout: every LogsQL
entry of the driver registry (``f_`` filters, ``p_`` pipes, ``s_`` stats,
``ep_`` endpoints) runs on Spark and is compared with its DuckDB oracle
SQL over the same parquet, at two scales — a value that renders or
rounds differently at one scale only (E-notation below 1e-3, say) shows
up at the other. The compare is ``tools/check_oracle.py``'s; entries
without an oracle must still run."""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import check_oracle  # noqa: E402

LOGSQL_PREFIXES = ("f_", "p_", "s_", "ep_")


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
def test_logsql_entries_match_oracle(spark, sf_dir, scale):
    import __spark_entry__ as entrymod

    data = os.path.join(os.path.dirname(sf_dir), scale)
    con = check_oracle.connect(data)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql(data)
    names = [n for n in qs if n.startswith(LOGSQL_PREFIXES)]
    assert len(names) > 100
    failures = {}
    for name in names:
        try:
            df = qs[name](spark, data)
            s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 — report every entry
            failures[name] = f"spark error: {e}"[:300]
            continue
        if name not in oracles:
            continue
        cur = con.execute(oracles[name])
        d_cols = [d[0] for d in cur.description]
        problems = check_oracle.compare(s_cols, s_rows, d_cols, cur.fetchall())
        if problems:
            failures[name] = "; ".join(problems)[:300]
    assert not failures, failures
