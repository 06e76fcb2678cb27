"""Query planner: LogsQL AST → DataFrame.

Lifecycle mirrors the reference (storage_search.go:102-142): resolve
subqueries against the source table, fold the filter tree into the scan
(Catalyst pushes it into Parquet), then apply pipes left-to-right. Catalyst
then performs the rewrites the reference hand-codes (parser.go:600-636):
filter merging, top-k sort, projection pushdown, partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from victorialogs_spark.functions.natural import fcol, qcol
from victorialogs_spark.logsql import ast as A
from victorialogs_spark.planner.filters import compile_filter
from victorialogs_spark.planner.pipes import apply_pipe

NS = 10**9

# in(subquery) values up to this count are inlined as isin() (pushes into the
# Parquet scan); beyond it the filter becomes a left_semi join so neither the
# driver nor Catalyst ever materialize a million-literal expression tree.
from victorialogs_spark.planner.filters import SUBQUERY_VALUES_MAX

IN_VALUES_INLINE_MAX = SUBQUERY_VALUES_MAX  # one policy, two entry paths


class PlanContext:
    """Carries what pipes need beyond the current DataFrame: the source
    table (for join/union/in-subqueries and stream_context), the global
    time range (for rate(), parser.go:1214), and the API-level time filter
    (subqueries inherit it unless they set ignore_global_time_filter —
    parser.go:261-262)."""

    def __init__(
        self,
        spark: SparkSession,
        source_df: DataFrame,
        query: A.Query,
        global_time_ns: tuple[int, int] | None = None,
    ):
        self.spark = spark
        self.source_df = source_df
        self.query = query
        self.global_time_ns = global_time_ns
        # rate()/rate_sum() divide by the SELECTED time range: the
        # intersection of the query text's _time filter and the
        # API-level start/end window (the reference folds start/end into
        # the query via AddTimeFilter BEFORE initStatsRateFuncs,
        # parser.go:465,1219-1225 — ignoring the API window inflated
        # rates by the full-range factor; r14 review finding)
        tr = query.time_range
        if global_time_ns is not None:
            g = (int(global_time_ns[0]), int(global_time_ns[1]))
            tr = g if tr is None else (max(tr[0], g[0]), min(tr[1], g[1]))
        self.range_seconds: float | None = None
        if tr is not None and tr[0] > -(2**61) and tr[1] < 2**61:
            self.range_seconds = (tr[1] - tr[0] + 1) / NS

    def run_subquery(self, q: A.Query) -> DataFrame:
        gt = self.global_time_ns
        if _opt_bool(q.options.get("ignore_global_time_filter")):
            gt = None
        return plan_query(self.spark, self.source_df, q, global_time_ns=gt)


def _opt_bool(v) -> bool:
    return str(v).lower() in ("1", "true", "yes")


def apply_filter_df(df: DataFrame, f: A.Filter, ctx) -> DataFrame:
    """Apply a filter tree at DataFrame level. Top-level in(subquery)
    conjuncts (and their negations) get the scale-safe treatment: inline
    isin() below IN_VALUES_INLINE_MAX distinct values, left_semi/left_anti
    join above it (reference collects in-process with memory caps,
    storage_search.go:582-606; the join is the idiomatic Spark equivalent).
    in(subquery) nested under OR/NOT resolves the same way: small value
    sets inline, large ones become a left-join boolean flag column the
    predicate references — the driver never collects an unbounded set.
    Everything else compiles to one Column predicate."""
    conjuncts = list(f.children) if isinstance(f, A.FAnd) else [f]
    out = df
    rest: list[A.Filter] = []
    for c in conjuncts:
        negate, inner = False, c
        if isinstance(c, A.FNot) and isinstance(c.child, A.FInSubquery):
            negate, inner = True, c.child
        if isinstance(inner, A.FInSubquery) and ctx is not None:
            out = _in_subquery_df(out, inner, ctx, negate)
            continue
        rest.append(c)
    if rest:
        tree = rest[0] if len(rest) == 1 else A.FAnd(rest)
        flags: list[str] = []
        if ctx is not None:
            tree, out = _resolve_nested_in_subqueries(tree, out, ctx, flags)
        out = out.where(compile_filter(tree, out, ctx))
        if flags:
            out = out.drop(*flags)
    return out


def _resolve_nested_in_subqueries(
    f: A.Filter, df: DataFrame, ctx, flags: list[str]
) -> tuple[A.Filter, DataFrame]:
    """Replace every in(subquery) below OR/NOT with a bounded form: FIn for
    small value sets (pushable isin), or a distinct-values left join whose
    boolean flag column the rewritten tree references (FFlagCol). Replaces
    the former driver-side collect of up to 1e6 values."""
    if isinstance(f, (A.FAnd, A.FOr)):
        kids = []
        for c in f.children:
            c2, df = _resolve_nested_in_subqueries(c, df, ctx, flags)
            kids.append(c2)
        return type(f)(kids), df
    if isinstance(f, A.FNot):
        c2, df = _resolve_nested_in_subqueries(f.child, df, ctx, flags)
        return A.FNot(c2), df
    if isinstance(f, A.FInSubquery):
        vals_df, head = _subquery_distinct_values(ctx, f.query)
        if head is not None:
            # FIn compiles to the same predicate an inline in(...) would
            return A.FIn(f.field, head), df
        flag = f"__vl_inflag_{len(flags)}"
        flags.append(flag)
        marked = vals_df.withColumnRenamed("__vl_in", flag + "_v").withColumn(
            flag, F.lit(True)
        )
        df = df.join(
            marked, fcol(df, f.field) == F.col(flag + "_v"), "left"
        ).drop(flag + "_v")
        return A.FFlagCol(flag), df
    return f, df


def _subquery_distinct_values(ctx, query):
    """Shared in(subquery) resolution: distinct single-column values as a
    DataFrame, plus the materialized value list when it fits under
    IN_VALUES_INLINE_MAX (else None — caller must join)."""
    sub = ctx.run_subquery(query)
    if len(sub.columns) != 1:
        raise ValueError(
            f"in(subquery): subquery must return exactly one field, got {sub.columns}"
        )
    vals_df = sub.select(
        F.coalesce(qcol(sub.columns[0]).cast("string"), F.lit("")).alias("__vl_in")
    ).distinct()
    head = vals_df.limit(IN_VALUES_INLINE_MAX + 1).collect()
    if len(head) <= IN_VALUES_INLINE_MAX:
        return vals_df, [r[0] for r in head]
    return vals_df, None


def _in_subquery_df(
    df: DataFrame, f: A.FInSubquery, ctx, negate: bool
) -> DataFrame:
    vals_df, head = _subquery_distinct_values(ctx, f.query)
    if head is not None:
        pred = fcol(df, f.field).isin(head) if head else F.lit(False)
        return df.where(~pred if negate else pred)
    join_cond = fcol(df, f.field) == vals_df["__vl_in"]
    return df.join(vals_df, join_cond, "left_anti" if negate else "left_semi")


def plan_query(
    spark: SparkSession,
    df: DataFrame,
    q: A.Query,
    global_time_ns: tuple[int, int] | None = None,
    source_df: DataFrame | None = None,
) -> DataFrame:
    """``source_df``: the UNPRUNED table for subquery/join/union/
    stream_context planning when ``df`` is a bloom-pruned reader — those
    lookups must see every file or pruning would change results (the
    index is a perf-only structure)."""
    ctx = PlanContext(spark, source_df if source_df is not None else df, q, global_time_ns)
    # options(concurrency=N) (the reference's per-query worker count,
    # parser.go:261) is parsed and ignored: Spark reads the shuffle width
    # from the SESSION conf when the action runs, so honouring it would
    # change the width of every other query in the session. AQE sizes
    # shuffles from the data instead.
    out = df
    if global_time_ns is not None:
        from victorialogs_spark.planner.filters import _time_range

        out = out.where(_time_range(out, global_time_ns[0], global_time_ns[1]))
        out = _day_prune(out, global_time_ns)
    if q.time_range is not None:
        out = _day_prune(out, q.time_range)
    out = apply_filter_df(out, q.filter, ctx)
    # internal scan-side columns (raw nano-long time, kept so time-range
    # predicates push into Parquet) end their life at the filter stage —
    # pipes and query output never see them
    if "__time_nanos" in out.columns:
        out = out.drop("__time_nanos")
    for i, p in enumerate(q.pipes):
        nxt = q.pipes[i + 1] if i + 1 < len(q.pipes) else None
        p = _pushdown_unpack_keys(p, nxt, out)
        if p is None:
            continue  # provable no-op under the following projection
        out = apply_pipe(p, out, ctx)
    return out


def _json_key_probe_regex(key: str) -> str:
    """Regex matching EVERY JSON serialization of ``"key"`` — each
    character may be written literally, as its short escape (\\n, \\",
    …), or as a \\uXXXX escape in any hex case (surrogate pairs for
    astral chars). Over-approximates (a VALUE containing the pattern
    also hits), which is the safe direction: the probe's job is to
    PROVE absence, so a false hit only keeps the exact inference path.
    A plain substring probe missed keys written with escapes
    (e.g. '"na\\u006de"') and silently skipped the overwrite."""
    import re as _re

    short = {'"': '\\"', "\\": "\\\\", "/": "\\/", "\b": "\\b",
             "\f": "\\f", "\n": "\\n", "\r": "\\r", "\t": "\\t"}

    def _u(cp: int) -> str:
        # \uXXXX with per-digit hex-case insensitivity
        return r"\\u" + "".join(
            f"[{d}{d.upper()}]" if d.isalpha() else d for d in "%04x" % cp
        )

    parts = ['"']
    for ch in key:
        alts = [_re.escape(ch)]
        if ch in short:
            alts.append(_re.escape(short[ch]))
        o = ord(ch)
        if o > 0xFFFF:
            v = o - 0x10000
            alts.append(_u(0xD800 + (v >> 10)) + _u(0xDC00 + (v & 0x3FF)))
        else:
            alts.append(_u(o))
        parts.append("(?:" + "|".join(alts) + ")")
    parts.append('"')
    return "".join(parts)


def _pushdown_unpack_keys(p, nxt, df: DataFrame):
    """Projection pushdown INTO key inference: ``unpack_json`` (or
    ``unpack_logfmt``) with no field list scans the data once just to
    learn the key universe, then extracts every key — only for an
    immediately following ``fields`` keep-pipe to drop all but a few.
    When the kept list is wildcard-free, restrict the unpack to exactly
    the keys those names demand: no inference scan, one
    parse (at sf1 this was the slowest headline query, and most of its
    wall was inferring keys nobody kept).

    Exactness, per prefix-compatible kept name:
    - name ABSENT from the frame: inference either creates it (key in
      data: identical per-row values) or leaves it missing (the fields
      pipe renders '' — identical to explicit extraction's '' for a key
      no row has). Always safe.
    - name that IS an existing column: explicit extraction would
      overwrite rows whose payload lacks the key with '' while
      inference might never touch the column. Safe under
      skip_empty_results (empty extraction keeps the original), and
      otherwise PROVEN safe by a cheap string scan: if the quoted key
      appears in NO source value, the key cannot be in the key universe
      and inference would never have assigned the column. For logfmt
      the probe is a literal 'name=' contains (logfmt keys are never
      escaped); for JSON it is an escape-aware regex
      (_json_key_probe_regex) so keys serialized with \\uXXXX or short
      escapes cannot defeat the absence proof. Probe hit ⇒ no rewrite
      (the full inference path stays exact). COST NOTE: the probe is an
      eager plan-time scan; on a MISS it replaces the strictly more
      expensive parse-based inference scan, but on a HIT it is pure
      overhead on top of the unchanged inference path — acceptable
      because a hit needs the kept name to collide with an existing
      column AND appear in payload text, which is the rare shape.

    Returns the (possibly rewritten) pipe, or None when NO kept name
    can come from the unpack — the pipe is then a provable no-op under
    the projection and is skipped entirely.
    """
    import dataclasses

    if not isinstance(p, (A.PUnpackJson, A.PUnpackLogfmt)):
        return p
    if p.fields or not isinstance(nxt, A.PFields):
        return p
    if any("*" in f for f in nxt.fields):
        return p
    pref = p.result_prefix
    keys: list[str] = []
    probe: list[str] = []  # existing columns needing the absence proof
    for f in nxt.fields:
        if not f.startswith(pref) or len(f) <= len(pref):
            continue
        k = f[len(pref):]
        if f in df.columns and not p.skip_empty_results:
            probe.append(k)
        else:
            keys.append(k)
    if probe:
        is_json = isinstance(p, A.PUnpackJson)
        src = fcol(df, p.from_field)
        any_hit = F.lit(False)
        for k in probe:
            if is_json:
                tst = src.rlike(_json_key_probe_regex(k))
            else:
                tst = F.contains(src, F.lit(f"{k}="))
            any_hit = any_hit | F.coalesce(tst, F.lit(False))
        hit = df.agg(F.max(any_hit)).first()[0]
        if hit:
            return p  # key might be real — keep the exact inference path
    if not keys:
        return None
    return dataclasses.replace(p, fields=keys)


def _day_prune(df: DataFrame, tr: tuple[int, int]) -> DataFrame:
    """Derive a `_day` partition predicate from a bounded time range so the
    scan prunes whole day partitions (the reference's per-day partition
    walk, storage_search.go:1069-1081). No-op without a `_day` column."""
    if "_day" not in df.columns:
        return df
    import datetime as _dt

    lo_ns, hi_ns = tr
    pred = None
    if lo_ns > -(2**61):
        lo_day = _dt.datetime.fromtimestamp(lo_ns / 1e9, _dt.timezone.utc).strftime("%Y%m%d")
        pred = F.col("_day") >= lo_day
    if hi_ns < 2**61:
        hi_day = _dt.datetime.fromtimestamp(hi_ns / 1e9, _dt.timezone.utc).strftime("%Y%m%d")
        p2 = F.col("_day") <= hi_day
        pred = p2 if pred is None else (pred & p2)
    return df.where(pred) if pred is not None else df
