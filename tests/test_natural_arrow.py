"""natural_arrow_struct ⇔ Column-expression equivalence.

The Arrow pandas UDF (functions/natural_arrow.py) replaces the
CodegenFallback scanner/run-encoder expressions in the staged-sort
projection; sort orders are oracle-declared, so the UDF must be
BYTE-identical to the expressions on every input: scan ≡
coalesce(duration_ns_col(gated), bytes_col(gated)).cast('double'),
key ≡ natural_text_key(s).
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# duration/size/number shapes + the LessNatural adversarial cases: every
# scanner validity gate (edge dots, double dots, leading zeros, '_'
# separators, bare fractions, sign handling, overflow clamps, unit
# case-sensitivity) and every run-encoder shape (digit runs, controls,
# unicode, >19-digit runs)
CASES = [
    "", "0", "1", "01", "001", "9", "10", "a", "A", "z",
    "host1", "host2", "host10", "host10a", "host010",
    "a b", "a1", "aB", "a\x01b", "a\x02b",
    "1.2.3", "1.10.2", "v1.9.0", "v1.10.0",
    "é", "z9", "zé", "日本2", "日本10",
    "0a", "00a", "a0", "a00", "-1", "-", "--", "123abc456",
    "42.371", "-42.371", "1.05", "1.5", "0.50", "12.", ".5", "--12",
    "-0012.003", "00.00",
    "2024-01-02T03:04:05Z", "2024-01-10T00:00:00Z",
    # durations — incl. the FMA-vs-parse divergence probe 0.3s
    "5s", "1m", "150ms", "1.5h", "0.3s", "5m30s", "1w2d3h4m5s",
    "1.5µs", "17µs", "1us", "1US", "1Ms", "-5s", "+5s", "--5s", "-",
    "1..2s", "1.s", ".5s", "1_s", "_s", "_", "1_000s", "1_0._5s",
    "9999999999y", "292y", "293y", "999999999999999999999s",
    "18446744073709551615ns", "0.000001y", "1y1y1y1y1y1y1y1y1y1y",
    "1e5s", "012s", "0_1s", "1.s2", "s", "µs", "5 s", " 5s", "5s ",
    # byte sizes — bare ints allowed, bare fractions rejected
    "2KB", "1GiB", "22MB100KB", "1.5B", "3B", "1B2B", "1.5", "1_000.5",
    "900", "2kb", "2Kb", "1.5K", "1.5KiB", "5T", "5Ti", "100000TiB",
    "-2KB", "0.5", "07", "1_", "_1", "1__2", "1.", "1.0.0KB",
    # numeric-parse passers (gate never fires: n non-NULL)
    "1e5", "012", "  12  ", "Infinity", "-Infinity", "NaN", "0x20",
]


def _expr_frame(spark, values):
    from victorialogs_spark.functions.natural import (
        bytes_col,
        duration_ns_col,
        natural_text_key,
    )
    from victorialogs_spark.functions.natural_arrow import (
        natural_arrow_struct,
    )

    df = spark.createDataFrame([(v,) for v in values], "s string")
    s = F.coalesce(F.col("s"), F.lit(""))
    n = F.col("s").try_cast("double")
    gated = F.when(n.isNull() & s.rlike("^-?[0-9._]"), s)
    expr_scan = F.coalesce(
        duration_ns_col(gated).cast("double"), bytes_col(gated).cast("double")
    )
    u = natural_arrow_struct(gated, s)
    return df.select(
        "s",
        expr_scan.alias("escan"),
        natural_text_key(s).alias("ekey"),
        u["scan"].alias("ascan"),
        u["key"].alias("akey"),
    ).collect()


def _assert_match(rows):
    for r in rows:
        assert r["escan"] == r["ascan"], (
            repr(r["s"]), r["escan"], r["ascan"]
        )
        assert r["ekey"] == r["akey"], (repr(r["s"]), r["ekey"], r["akey"])


def test_arrow_matches_expressions_on_cases(spark):
    _assert_match(_expr_frame(spark, CASES))


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(
                "0123456789._-+smhdwynµKMGTiB abé\x01\x02 日"
            ),
            max_size=14,
        ),
        min_size=1,
        max_size=60,
    )
)
def test_arrow_matches_expressions_property(spark, values):
    _assert_match(_expr_frame(spark, values))


def test_staged_text_sort_plan_uses_arrow(spark):
    """The staged sort over a genuine text field must carry the keys in
    an ArrowEvalPython node, with ZERO CodegenFallback HOF scanners in
    the plan (the r15 whole-stage-codegen exclusion, closed r16)."""
    from victorialogs_spark.api import run_query

    df = spark.createDataFrame(
        [("host10",), ("5s",), ("abc",)], "h string"
    )
    out = run_query(spark, df, "* | sort by (h) | fields h")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    for marker in ("regexp_extract_all", "forall(", "aggregate("):
        assert marker not in plan, marker


def test_staged_text_sort_results_unchanged(spark):
    """The staged Arrow sort orders rows exactly like a plain orderBy
    over the natural-key expressions (the path cheap fields and
    ``_sort_exprs`` still use)."""
    from victorialogs_spark.api import run_query
    from victorialogs_spark.functions.natural import natural_keys

    rows = [(v,) for v in CASES]
    df = spark.createDataFrame(rows, "h string")
    want = [r["h"] for r in df.orderBy(*natural_keys(df, "h")).collect()]
    got = [
        r["h"]
        for r in run_query(spark, df, "* | sort by (h) | fields h").collect()
    ]
    assert got == want
