"""Pipe AST → DataFrame transformations.

Each LogsQL pipe (lib/logstorage/pipe_*.go) maps onto declarative DataFrame
ops so Catalyst keeps pushdown/pruning working across the whole chain.
Python/pandas UDFs appear only where Spark genuinely lacks the semantics
(replace-with-limit); everything else is JVM-side.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from victorialogs_spark.functions.casts import _try_cast

from victorialogs_spark.functions.natural import (
    duration_ns_col,
    duration_seconds,
    duration_string,
    fcol,
    format_number,
    ipv4_num,
    ipv4_str,
    let,
    natural_keys,
    num,
    qcol,
    ts_rfc3339_str,
    unsigned_str,
)
from victorialogs_spark.functions.text import (
    ANSI_COLOR_RE,
    NON_TOKEN_RE,
    anonymize_named_groups,
    java_quote,
    to_python_regex,
)
from victorialogs_spark.logsql import ast as A
from victorialogs_spark.planner.filters import compile_filter
from victorialogs_spark.planner.stats import compile_stats_func

MAX_UNPACK_COLS = 2000  # mirrors the reference's 2000-cols-per-block cap


def apply_pipe(p: A.Pipe, df: DataFrame, ctx) -> DataFrame:
    fn = _DISPATCH.get(type(p))
    if fn is None:
        raise NotImplementedError(f"pipe {type(p).__name__}")
    return fn(p, df, ctx)


# ---------------------------------------------------------------- projection

def _expand_wildcards(df: DataFrame, fields: list[str]) -> list[str]:
    from victorialogs_spark.functions.prefixfilter import (
        is_wildcard_filter,
        match_filter,
    )

    out: list[str] = []
    for f in fields:
        if f == "*":
            out.extend(df.columns)
        elif is_wildcard_filter(f):
            out.extend(c for c in df.columns if match_filter(f, c))
        else:
            out.append(f)
    seen = set()
    res = []
    for f in out:
        if f not in seen:
            seen.add(f)
            res.append(f)
    return res


def _p_fields(p: A.PFields, df: DataFrame, ctx) -> DataFrame:
    names = _expand_wildcards(df, p.fields)
    cols = []
    for n in names:
        if n in df.columns:
            cols.append(qcol(n))
        else:
            cols.append(F.lit("").alias(n))  # selecting a missing field yields ''
    return df.select(*cols)


def _p_delete(p: A.PDelete, df: DataFrame, ctx) -> DataFrame:
    names = [n for n in _expand_wildcards(df, p.fields) if n in df.columns]
    return df.drop(*names)


def _expand_pair_wildcards(
    pairs: list[tuple[str, str]], columns: list[str]
) -> list[tuple[str, str]]:
    """Expand wildcard src/dst field filters against the current schema
    (pipe_copy.go / pipe_rename.go operate on prefix filters):
    foo* as bar* remaps the prefix, foo* as * strips it, * as foo*
    prepends it."""
    out: list[tuple[str, str]] = []
    for src, dst in pairs:
        if src.endswith("*"):
            sp = src[:-1]
            for c in columns:
                if c.startswith(sp):
                    nd = dst[:-1] + c[len(sp):] if dst.endswith("*") else dst
                    out.append((c, nd))
        elif dst.endswith("*"):
            out.append((src, dst[:-1] + src))
        else:
            out.append((src, dst))
    return out


def _p_copy(p: A.PCopy, df: DataFrame, ctx) -> DataFrame:
    for src, dst in _expand_pair_wildcards(p.pairs, df.columns):
        if src == dst:
            continue
        df = df.withColumn(dst, fcol(df, src) if src != "_time" or "_time" not in df.columns else qcol(src))
    return df


def _p_rename(p: A.PRename, df: DataFrame, ctx) -> DataFrame:
    for src, dst in _expand_pair_wildcards(p.pairs, df.columns):
        if src == dst:
            continue
        if dst in df.columns:
            # mv overwrites an existing destination (pipe_rename.go);
            # withColumnRenamed alone would keep both copies
            df = df.drop(dst)
        if src in df.columns:
            df = df.withColumnRenamed(src, dst)
        else:
            df = df.withColumn(dst, F.lit(""))
    return df


def _p_filter(p: A.PFilter, df: DataFrame, ctx) -> DataFrame:
    from victorialogs_spark.planner.planner import apply_filter_df

    return apply_filter_df(df, p.filter, ctx)


def _p_limit(p: A.PLimit, df: DataFrame, ctx) -> DataFrame:
    return df.limit(p.n)


def _p_offset(p: A.POffset, df: DataFrame, ctx) -> DataFrame:
    return df.offset(p.n)


# ---------------------------------------------------------------- sorting

def _sort_exprs(df: DataFrame, fields: list[A.SortField], global_desc: bool) -> list[Column]:
    exprs: list[Column] = []
    # empty by(...) = sort by ALL fields in schema order — the
    # reference's rule (pipe_sort.go:251 "Sort by all the columns";
    # LogsQL.md documents it); the old _time default silently picked a
    # different winner for `sort`/`first`/`last` without `by`
    # (r15 pipe-semantics corpus finding)
    targets = fields or [A.SortField(c, False) for c in df.columns]
    for sf in targets:
        desc = sf.desc != global_desc
        for k in natural_keys(df, sf.name):
            exprs.append(k.desc() if desc else k.asc())
    return exprs


def _staged_sort(
    df: DataFrame, fields: list[A.SortField], global_desc: bool
) -> tuple[DataFrame, list[Column], list[str]]:
    """Materialize the natural sort keys as internal columns and return
    (df+keys, order-by-key-columns, staged names to drop).

    Sort/TakeOrderedAndProject/Window evaluate their SortOrder
    expressions PER COMPARISON, not per row — with the natural-order
    keys over STRING fields (text-key encoding + tryParseNumber trees)
    that multiplied the key cost by the comparison count (r15 bench:
    8× on p_sort_desc_rank; interleaved A/B on a text-field sort:
    staged 3.9 s vs unstaged 13.7 s). One projection evaluates each
    key exactly once per row; the staged columns are dropped after the
    last ordering consumer. TYPED (numeric/timestamp) fields keep
    their raw key expressions: those keys are a cast or column ref,
    per-comparison evaluation is lazy (later tie-break keys almost
    never evaluate), and staging them measured SLOWER (tpch_top_orders
    0.62 → 0.85 s best, same A/B)."""
    from victorialogs_spark.functions.natural import (
        _DIRECT_DOUBLE_TYPES,
        num,
        numeric_provenance,
    )

    targets = fields or [A.SortField(c, False) for c in df.columns]
    dtypes = dict(df.dtypes)
    ucols: dict[str, Column] = {}
    cols: dict[str, Column] = {}
    orders: list[Column] = []
    i = 0
    for sf in targets:
        desc = sf.desc != global_desc
        dt = dtypes.get(sf.name)
        cheap = (
            dt == "timestamp"
            or dt in _DIRECT_DOUBLE_TYPES
            or numeric_provenance(df, sf.name)
        )
        if cheap:
            for k in natural_keys(df, sf.name):
                orders.append(k.desc() if desc else k.asc())
            continue
        # GENUINE text/mixed field: the scanner + run-encoder keys
        # are CodegenFallback HOF trees — computing them in the
        # staging Project ran the whole projection INTERPRETED
        # (whole-stage-codegen exclusion, the r15 open item). One
        # Arrow pandas UDF computes both per batch
        # (functions/natural_arrow.py, byte-identical by pinned
        # tests); the remaining JVM expressions (try_cast + gate +
        # coalesce) stay codegen-friendly. Staged in two chained
        # projections: the struct first, the key columns off its
        # ATTRIBUTE — so the UDF cannot be cloned per extraction.
        from victorialogs_spark.functions.natural_arrow import (
            natural_arrow_struct,
        )

        s = fcol(df, sf.name)
        n = num(df, sf.name)
        gated = F.when(n.isNull() & s.rlike("^-?[0-9._]"), s)
        uname = f"__vl_su{i}"
        ucols[uname] = natural_arrow_struct(gated, s)
        u = qcol(uname)
        nn = F.coalesce(n, u["scan"])
        keys = [
            F.when(nn.isNotNull(), F.lit(0)).otherwise(F.lit(1)),
            F.coalesce(nn, F.lit(0.0)),
            u["key"],
        ]
        for k in keys:
            name = f"__vl_sk{i}"
            i += 1
            cols[name] = k
            orders.append(qcol(name).desc() if desc else qcol(name).asc())
    if not cols:
        return df, orders, []
    staged = df.withColumns(ucols) if ucols else df
    return staged.withColumns(cols), orders, list(ucols) + list(cols)


def _p_sort(p: A.PSort, df: DataFrame, ctx) -> DataFrame:
    staged, orders, knames = _staged_sort(df, p.fields, p.desc)
    if p.partition_by:
        # per-partition top-k: row_number over a window → filter
        # (reference: pipe_sort.go:44-46 partition by + limit)
        w = Window.partitionBy(
            *[fcol(df, f) for f in p.partition_by]
        ).orderBy(*orders)
        rn = F.row_number().over(w)
        rank_col = p.rank_name or "__rn"
        df = staged.withColumn(rank_col, rn).drop(*knames)
        if p.limit is not None:
            df = df.where(qcol(rank_col) <= p.offset + p.limit)
        if p.offset:
            df = df.where(qcol(rank_col) > p.offset)
        if p.rank_name is None:
            df = df.drop(rank_col)
        else:
            df = df.withColumn(rank_col, qcol(rank_col).cast("string"))
        return df
    if p.rank_name is not None and p.limit is not None:
        # top-k first (TakeOrderedAndProject), then rank the small result —
        # avoids funnelling the full dataset through one window task
        out = staged.orderBy(*orders).limit(p.offset + p.limit)
        w = Window.orderBy(*orders)
        out = out.withColumn(p.rank_name, F.row_number().over(w).cast("string"))
        if p.offset:
            out = out.where(_try_cast(qcol(p.rank_name), "int") > p.offset)
        return out.orderBy(*orders).drop(*knames)
    if p.rank_name is not None:
        # global rank without limit: single-task window — inherent to a total
        # rank; reference is single-node here too (pipe_sort.go)
        w = Window.orderBy(*orders)
        out = staged.withColumn(p.rank_name, F.row_number().over(w).cast("string"))
    else:
        out = staged
    out = out.orderBy(*orders)
    if p.limit is not None:
        # Catalyst turns orderBy+limit into TakeOrderedAndProject (top-k heap,
        # same trick as pipe_sort_topk.go)
        out = out.limit(p.offset + p.limit)
    if p.offset:
        out = out.offset(p.offset)
    return out.drop(*knames)


def _p_first(p: A.PFirst, df: DataFrame, ctx) -> DataFrame:
    return _p_sort(
        A.PSort(
            fields=p.fields,
            desc=p.desc,
            limit=p.n,
            partition_by=p.partition_by,
            rank_name=p.rank_name,
        ),
        df,
        ctx,
    )


# ---------------------------------------------------------------- stats

def _trunc_ts_us(t_us: Column, step_us: int, off_us: int, word: str | None) -> Column:
    """truncateTimestamp (block_result.go:818-848) on a µs-domain long.

    'month'/'year' truncate the offset-shifted timestamp to UTC calendar
    boundaries and re-add the offset (truncateTimestampToMonth/Year;
    date_trunc runs in the session timezone, which the engine pins to
    UTC). The literal word 'week' Monday-aligns: the reference adds 4
    days to the bucket offset (epoch+4d = Mon 1970-01-05); the '1w'
    spelling stays epoch-aligned."""
    if word in ("month", "year"):
        shifted = F.timestamp_micros((t_us - off_us).cast("long"))
        return F.unix_micros(F.date_trunc(word, shifted)) + off_us
    if word == "week":
        off_us += 4 * 86_400_000_000
    t = t_us - off_us
    return (F.floor(t / step_us) * step_us).cast("long") + off_us


def _time_bucket(bf: A.ByField) -> Column:
    off_us = int(bf.bucket_offset * 1_000_000)
    word = getattr(bf, "bucket_size_str", None)
    # sub-µs bucket sizes clamp to 1µs: Spark timestamps are µs-granular
    # so the clamp is semantically exact, while int() truncation to 0
    # divided by zero at execution (r14 review finding)
    step_us = 1 if word in ("month", "year") else max(1, int(bf.bucket_size * 1_000_000))
    start = _trunc_ts_us(F.unix_micros(qcol("_time")), step_us, off_us, word)
    return F.timestamp_micros(start.cast("long"))


def _value_bucket(df: DataFrame, bf: A.ByField) -> Column:
    """getBucketedValue replica (block_result.go:1666-1764) for non-_time
    by-fields: per-value dispatch int64 → float64 → RFC3339 timestamp →
    IPv4 → duration, falling back to the ORIGINAL value — unparseable
    strings (and anything not starting with a digit or '-') group by
    themselves, not by ''. bucket_size carries the reference's single
    numeric space (ns for duration/timestamp strings).

    Typed numeric / timestamp Spark columns take the matching branch
    directly — identical results with no string round-trip.

    Documented divergences: NaN/±Inf and magnitudes past the int64-
    scaled range pass through unbucketed (Go would push them through
    int64(float) conversion garbage); timestamps truncate at Spark's µs
    granularity (sub-µs bucket sizes clamp to 1µs)."""
    from decimal import Decimal

    size = bf.bucket_size or 0.0
    off = bf.bucket_offset
    word = getattr(bf, "bucket_size_str", None)

    # --- int64 / duration truncation (truncateInt64, block_result.go:1333)
    bsize_i = int(size) if int(size) > 0 else 1
    boff_i = int(off)

    def trunc_long(n: Column) -> Column:
        return n - F.pmod(n - F.lit(boff_i), F.lit(bsize_i))

    # --- float64 truncation (truncateFloat64:1438 + decimal.FromFloat p10)
    fsize = size if size > 0 else 1.0
    exp = Decimal(repr(fsize)).normalize().as_tuple().exponent
    p10 = 10.0 ** (-exp)
    size_p10 = int(fsize * p10) or 1

    def trunc_double(f: Column) -> Column:
        shifted = (f - F.lit(off)) if off else f
        fp10 = F.floor(shifted * F.lit(p10))
        out = (fp10 - fp10 % F.lit(size_p10)).cast("double") / F.lit(p10)
        return (out + F.lit(off)) if off else out

    def float_safe(f: Column) -> Column:
        # int64(floor(f*p10)) must stay in range; NaN/Inf and the
        # overflow zone fall back to the unbucketed value
        x = f * F.lit(p10)
        return ~F.isnan(f) & (x > F.lit(-9.2e18)) & (x < F.lit(9.2e18))

    # --- uint32 IPv4 truncation (truncateUint32:1237 shape)
    size32 = int(size) if int(size) > 0 else 1
    off32 = (int(off) + 2**31) % 2**32 - 2**31  # uint32(int32(off))
    off32 &= 0xFFFFFFFF

    def trunc_ipv4(n: Column) -> Column:
        if off32 == 0:
            return n - n % F.lit(size32)
        shifted = n - F.lit(off32)
        return F.when(F.lit(off32) > n, F.lit(0)).otherwise(
            shifted - shifted % F.lit(size32) + F.lit(off32)
        )

    # --- timestamp truncation: ns-space size/offset → µs domain
    step_us = 1 if word in ("month", "year") else max(1, int(size / 1e3))
    off_us = int(off / 1e3)

    def trunc_ts(t: Column) -> Column:
        return ts_rfc3339_str(
            F.timestamp_micros(
                _trunc_ts_us(F.unix_micros(t), step_us, off_us, word).cast("long")
            )
        )

    dt = dict(df.dtypes).get(bf.name)
    if dt in ("double", "float"):
        f = qcol(bf.name).cast("double")
        return F.when(
            f.isNotNull() & float_safe(f), format_number(trunc_double(f))
        ).otherwise(F.coalesce(format_number(f), F.lit("")))
    if dt in ("int", "bigint", "smallint", "tinyint", "long"):
        n = qcol(bf.name).cast("long")
        return F.when(n.isNotNull(), trunc_long(n).cast("string")).otherwise(
            F.lit("")
        )
    if dt == "timestamp":
        t = qcol(bf.name)
        return F.when(t.isNotNull(), trunc_ts(t)).otherwise(F.lit(""))

    # --- string dispatch, ordered exactly like getBucketedValue
    s = fcol(df, bf.name)
    clean = F.translate(s, "_", "")  # '_' digit separators
    as_long = _try_cast(clean, "long")
    as_dbl = _try_cast(clean, "double")
    # tryParseUint64/Float64 shape: no exponents, no edge dots, no
    # leading zeros, ≤27 chars, magnitude within uint64
    int_ok = s.rlike(r"^-?(0|[1-9][0-9_]*)$") & as_long.isNotNull()
    float_ok = (
        s.rlike(r"^-?(0|[1-9][0-9_]*)(\.[0-9_]+)?$")
        & (F.length(s) <= 27)
        & as_dbl.isNotNull()
        & (F.abs(as_dbl) <= F.lit(1.8446744073709552e19))
        & float_safe(as_dbl)
    )
    ts_val = _try_cast(s, "timestamp")
    ts_ok = (
        s.rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$")
        & ts_val.isNotNull()
    )
    ip = ipv4_num(s)
    dur = duration_ns_col(s)
    return (
        F.when(~s.rlike(r"^[0-9-]"), s)  # incl. '' (getBucketedValue:1667)
        .when(int_ok, trunc_long(as_long).cast("string"))
        .when(float_ok, format_number(trunc_double(as_dbl)))
        .when(ts_ok, trunc_ts(ts_val))
        .when(ip.isNotNull(), ipv4_str(trunc_ipv4(ip)))
        .when(dur.isNotNull(), duration_string(trunc_long(dur)))
        .otherwise(s)
    )


def _by_exprs(df: DataFrame, by: list[A.ByField]) -> list[Column]:
    cols: list[Column] = []
    for bf in by:
        if bf.name == "_time" and (
            bf.bucket_size or getattr(bf, "bucket_size_str", None) in ("month", "year")
        ):
            cols.append(_time_bucket(bf).alias("_time"))
        elif bf.ipv4_mask is not None:
            from victorialogs_spark.functions.natural import ipv4_num

            mask = (0xFFFFFFFF << (32 - bf.ipv4_mask)) & 0xFFFFFFFF
            # let-bound at each level: the parse result and the masked
            # value are referenced twice each (null-guard + use)
            bucket = let(
                ipv4_num(fcol(df, bf.name)),
                lambda n: let(
                    F.when(n.isNotNull(), n.bitwiseAND(F.lit(mask))),
                    lambda masked: F.when(
                        masked.isNotNull(), ipv4_str(masked)
                    ).otherwise(F.lit("")),
                ),
            )
            cols.append(bucket.alias(bf.name))
        elif bf.bucket_size or getattr(bf, "bucket_size_str", None):
            cols.append(_value_bucket(df, bf).alias(bf.name))
        else:
            if bf.name in df.columns and dict(df.dtypes).get(bf.name) == "timestamp":
                cols.append(qcol(bf.name))
            else:
                cols.append(fcol(df, bf.name).alias(bf.name))
    return cols


def _p_stats(p: A.PStats, df: DataFrame, ctx) -> DataFrame:
    by_names = [b.name for b in p.by]
    hist = [sf for sf in p.funcs if sf.name == "histogram"]
    other = [sf for sf in p.funcs if sf.name != "histogram"]
    aggs = []
    for sf in other:
        cond = compile_filter(sf.cond, df, ctx) if sf.cond is not None else None
        aggs.append(compile_stats_func(sf, df, by_names, cond, ctx.range_seconds))
    if not hist:
        if not p.by:
            return df.agg(*aggs)
        return df.groupBy(*_by_exprs(df, p.by)).agg(*aggs)
    # histogram() is a two-level aggregate: groupBy(keys, bucket).count()
    # then collect O(buckets) structs per group — never O(rows) state in one
    # aggregation buffer (stats_histogram.go semantics, scale-safe)
    parts: list[DataFrame] = []
    if other:
        parts.append(
            df.agg(*aggs) if not p.by else df.groupBy(*_by_exprs(df, p.by)).agg(*aggs)
        )
    for sf in hist:
        cond = compile_filter(sf.cond, df, ctx) if sf.cond is not None else None
        parts.append(_histogram_agg(df, sf, p.by, cond))
    out = parts[0]
    for nxt in parts[1:]:
        out = out.join(nxt, on=by_names, how="inner") if by_names else out.crossJoin(nxt)
    return out


def _histogram_agg(df: DataFrame, sf, by: list[A.ByField], cond: Column | None) -> DataFrame:
    """histogram(f) via two-phase aggregation: per-(group, vmrange-bucket)
    counts, then a per-group JSON array of {vmrange, hits} (bucket count is
    O(18/decade), tiny).

    The level-1 group key is the INTEGER bucket index, not the label:
    pow/format_string then run on O(buckets) aggregated rows instead of
    every input row (the label is a pure function of the index, so the
    grouping is identical — sf1 A/B measured the per-row '%.3e'
    formatting as the dominant scan cost). v == 0 uses a sentinel index
    no real value can reach (|idx| <= ~5600 for any double); negative
    and NULL inputs both yield a NULL index, exactly the rows whose
    label was NULL before (dropped by the entry filter)."""
    from victorialogs_spark.functions.natural import natural_num
    from victorialogs_spark.planner.stats import _BUCKETS_PER_DECADE

    # histogram parses string values with tryParseNumber — duration and
    # size literals bucket by their ns/byte value (stats_histogram.go:101)
    v = natural_num(df, sf.fields[0])
    if cond is not None:
        v = F.when(cond, v)
    zero_sent = -(10**9)
    # stage v as a column: the CASE below mentions it 3× and a Column
    # mention copies the whole parse tree (r15 bench on s_histogram);
    # a staged column evaluates it once per row and, unlike a
    # higher-order-function let-binding, stays in whole-stage codegen
    staged = df.withColumn("__vl_hv", v)
    vv = qcol("__vl_hv")
    idx = (
        F.when(vv.isNull(), F.lit(None))
        .when(vv == 0, F.lit(zero_sent))
        .otherwise(F.ceil(F.log10(vv) * _BUCKETS_PER_DECADE))
    )
    lvl1 = staged.groupBy(*_by_exprs(df, by), idx.alias("__bi")).agg(
        F.count(F.lit(1)).alias("__h")
    )
    keys = [c for c in lvl1.columns if c not in ("__bi", "__h")]
    bi = qcol("__bi")
    fmt = "%.3e"
    label = F.when(bi == zero_sent, F.lit("0...0")).otherwise(
        F.concat(
            F.format_string(
                fmt, F.pow(F.lit(10.0), (bi - 1) / _BUCKETS_PER_DECADE)
            ),
            F.lit("..."),
            F.format_string(fmt, F.pow(F.lit(10.0), bi / _BUCKETS_PER_DECADE)),
        )
    )
    entry = F.when(
        bi.isNotNull(),
        F.struct(label.alias("vmrange"), qcol("__h").alias("hits")),
    )
    arr = F.to_json(F.array_sort(F.collect_list(entry))).alias(sf.result)
    if keys:
        return lvl1.groupBy(*[qcol(k) for k in keys]).agg(arr)
    return lvl1.agg(arr)


# ---------------------------------------------------------------- math

def _math_col(e: A.MathExpr, df: DataFrame, done: dict[str, Column]) -> Column:
    """Math expr → double Column (pipe_math.go semantics: fields parse as
    number else NaN; we use NULL for NaN — `default` handles both)."""
    if isinstance(e, A.MNum):
        return F.lit(float(e.value))
    if isinstance(e, A.MField):
        if e.name in done:
            return done[e.name]
        return _math_num(df, e.name)
    if isinstance(e, A.MUnary):
        return -_math_col(e.arg, df, done)
    if isinstance(e, A.MBinary):
        l = _math_col(e.left, df, done)
        r = _math_col(e.right, df, done)
        op = e.op
        if op == "+":
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            # Go float semantics (ANSI Spark raises DIVIDE_BY_ZERO even
            # for doubles): x/0 = ±Inf, 0/0 = NaN; NULL operands (our
            # unparseable marker) propagate (r15 pipe-semantics corpus)
            return F.when(
                r == 0.0,
                F.when(
                    l.isNull() | F.isnan(l) | (l == 0.0),
                    F.lit(float("nan")),
                ).otherwise(F.signum(l) * F.lit(float("inf"))),
            ).otherwise(F.try_divide(l, r))
        if op == "%":
            # Go math.Mod(x, 0) = NaN; ANSI % raises instead
            return F.when(r == 0.0, F.lit(float("nan"))).otherwise(l % r)
        if op == "^":
            return F.pow(l, r)
        if op in ("&", "or", "xor"):
            # NaN operands yield NaN (ANSI cast of NaN to long CRASHES;
            # r15 pipe-semantics corpus)
            bad = l.isNull() | F.isnan(l) | r.isNull() | F.isnan(r)
            li, ri = l.cast("long"), r.cast("long")
            res = {
                "&": li.bitwiseAND(ri),
                "or": li.bitwiseOR(ri),
                "xor": li.bitwiseXOR(ri),
            }[op].cast("double")
            return F.when(bad, F.lit(float("nan"))).otherwise(res)
        if op == "default":
            return F.when(l.isNull() | F.isnan(l), r).otherwise(l)
        raise NotImplementedError(f"math op {op}")
    if isinstance(e, A.MFunc):
        args = [_math_col(a, df, done) for a in e.args]
        n = e.name
        if n == "abs":
            return F.abs(args[0])
        if n == "ceil":
            return F.ceil(args[0]).cast("double")
        if n == "floor":
            return F.floor(args[0]).cast("double")
        if n == "exp":
            return F.exp(args[0])
        if n == "ln":
            return F.log(args[0])
        if n == "max":
            return F.greatest(*args) if len(args) > 1 else args[0]
        if n == "min":
            return F.least(*args) if len(args) > 1 else args[0]
        if n == "round":
            if len(args) == 1:
                return F.round(args[0], 0)
            # round to the nearest multiple. For a LITERAL step, mirror
            # the reference's decimal-exponent truncation exactly
            # (pipe_math.go round(): f += 0.5*copysign(step,f);
            # f -= mod(f, step); truncate at step's decimal exponent) —
            # the naive round(a/step)*step reintroduces float dust
            # (7.390000000000001 for round(exp(2), 0.01); r15 corpus)
            step_lit = e.args[1] if len(e.args) > 1 else None
            if isinstance(step_lit, A.MNum) and step_lit.value != 0:
                from decimal import Decimal

                d = Decimal(repr(step_lit.value)).normalize()
                p10 = float(10 ** max(0, -d.as_tuple().exponent))
                x, step = args[0], float(step_lit.value)
                f2 = x + 0.5 * F.signum(x) * abs(step)
                f3 = f2 - (f2 % F.lit(step))
                res = (
                    _try_cast((f3 * p10).cast("string"), "decimal(38,0)")
                    .cast("double") / p10
                )
                return F.when(
                    x.isNull() | F.isnan(x), F.lit(float("nan"))
                ).otherwise(res)
            return F.round(args[0] / args[1], 0) * args[1]
        if n == "now":
            return (F.unix_micros(F.current_timestamp()) * 1000).cast("double")
        if n == "rand":
            return F.rand()
        raise NotImplementedError(f"math func {n}")
    raise NotImplementedError(str(e))


def _math_result(c: Column) -> Column:
    """Math results print Go-style (strconv.AppendFloat 'f', -1):
    unparseable/undefined = "NaN" (a missing operand yields "NaN", not
    an empty field), ±Inf = "+Inf"/"-Inf", and integral doubles print
    full digits with NO e-notation at any magnitude (a unix-ns constant
    prints 1717030933000000000, not 1.717030933e+18 —
    values_encoder.go:1404; r15 pipe-semantics corpus)."""
    return (
        F.when(c.isNull() | F.isnan(c), F.lit("NaN"))
        .when(c == float("inf"), F.lit("+Inf"))
        .when(c == float("-inf"), F.lit("-Inf"))
        .when(
            (c % 1.0 == 0.0) & (F.abs(c) < 1e38),
            c.cast("decimal(38,0)").cast("string"),
        )
        .otherwise(format_number(c))
    )


def _math_num(df: DataFrame, name: str) -> Column:
    """Field value → float64 like the reference's parseMathNumber
    (pipe_math.go:1066-1080): plain number, hex (0x...), compound
    duration ("10m5s" → ns), RFC3339 timestamp (→ unix ns), IPv4
    (→ uint32) — NULL (= NaN) otherwise. All Column expressions, no
    UDF (r15 pipe-semantics corpus)."""
    from victorialogs_spark.functions.natural import (
        bytes_col,
        duration_ns_col,
        ipv4_num,
        numeric_provenance,
    )

    v = fcol(df, name)
    base = _try_cast(v, "double")
    if numeric_provenance(df, name):
        # provenance-marked stringified numerics: hex needs '0x', the
        # scanners need a failed cast with a literal start-shape ('' is
        # the only non-casting value and fails it), IPv4 needs a dotted
        # quad, and the timestamp fallback is reached only for '' (NULL
        # through). The plain cast is the whole parse — and the
        # HOF-bearing scanners stay out of the Filter/Project, keeping
        # it in whole-stage codegen (see numeric_provenance).
        return base
    hex_ok = v.rlike(r"^0[xX][0-9a-fA-F]{1,16}$")
    hex_val = _try_cast(
        F.conv(F.regexp_replace(v, r"^0[xX]", ""), 16, 10), "double"
    )
    # tryParseNumber's fallbacks: duration, then SIZE literals ('10KB'
    # in math — block_result.go:2710; the lenient in-house duration
    # regex was retired for the tryParseDuration Column replica).
    # The scanners take a pre-gated INPUT (NULL whenever their result
    # cannot matter): codegen subexpression elimination evaluates
    # conditional branches eagerly, so an output-level when() gate does
    # not stop the parse — a NULL argument null-propagates for ~free
    # (r15 bench; same rule as functions/natural.natural_num). Literals
    # always start '-'?[0-9._]; rows where the plain/hex cast already
    # decided never read the scanner outputs.
    gated = F.when(base.isNull() & ~hex_ok & v.rlike("^-?[0-9._]"), v)
    dur_val = duration_ns_col(gated).cast("double")
    byte_val = bytes_col(gated).cast("double")
    ts_val = (F.unix_micros(F.try_to_timestamp(v)) * F.lit(1000.0))
    ip_ok = v.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    ip_val = ipv4_num(v).cast("double")
    return (
        F.when(base.isNotNull(), base)
        .when(hex_ok, hex_val)
        .when(dur_val.isNotNull(), dur_val)
        .when(byte_val.isNotNull(), byte_val)
        .when(ip_ok, ip_val)
        .otherwise(ts_val)
    )


def _p_math(p: A.PMath, df: DataFrame, ctx) -> DataFrame:
    done: dict[str, Column] = {}
    for expr, name in p.exprs:
        c = _math_col(expr, df, done)
        df = df.withColumn(name, _math_result(c))
        done[name] = num(df, name)
    return df


# ---------------------------------------------------------------- extract / format

_PLACEHOLDER_RE = re.compile(r"<([^<>]*)>")


def _pattern_to_regex(pattern: str) -> tuple[str, list[str]]:
    """extract pattern 'txt<f1>txt<f2>' → (java regex, group field names).
    Literal parts are quoted; placeholders become lazy captures, the final
    trailing placeholder captures to end (pattern.go semantics)."""
    parts = _PLACEHOLDER_RE.split(pattern)
    # parts alternates literal, name, literal, name, ... literal
    import html as _html

    regex = []
    names: list[str] = []
    for i, part in enumerate(parts):
        if i % 2 == 0:
            # literal prefixes HTML-unescape (pattern.go:187): &lt;/&gt;
            # is how a literal angle bracket is written in a pattern
            regex.append(java_quote(_html.unescape(part)))
        else:
            name = part.strip()
            is_last = i == len(parts) - 2 and parts[-1] == ""
            cap = "(.*)" if is_last else "(.*?)"
            regex.append(cap)
            names.append(name)
    return "".join(regex), names


def _parse_pattern_steps(pattern: str) -> list[tuple[str, str, str]]:
    """extract pattern → [(literal_prefix, field_name, field_opt)].
    Literal prefixes HTML-unescape; a placeholder ``<opt:name>`` carries
    an option (only "plain" is defined — it disables quoted-value
    capture), both sides space-trimmed (pattern.go parsePatternSteps +
    the options extraction)."""
    import html as _html

    parts = _PLACEHOLDER_RE.split(pattern)
    steps: list[tuple[str, str, str]] = []
    for i in range(1, len(parts), 2):
        inner = parts[i]
        opt, name = "", inner.strip()
        if ":" in inner:
            o, n = inner.split(":", 1)
            opt, name = o.strip(), n.strip()
        steps.append((_html.unescape(parts[i - 1]), name, opt))
    tail = _html.unescape(parts[-1]) if len(parts) % 2 == 1 else ""
    steps.append((tail, "", ""))
    return steps


def _extract_scan_udf(steps: list[tuple[str, str, str]], n_fields: int):
    """The reference's pattern.apply as an Arrow-batched scanner
    (pattern.go:100-143): find each literal prefix by index-of; at each
    placeholder, a value starting with '"' or backtick captures as a
    GO-QUOTED string (unquoted, the next literal must follow the closing
    quote) unless the placeholder is ``plain:``-marked; otherwise capture
    runs to the next literal. A regex cannot express the conditional
    quote skip — `baz=<abc>` on `baz="x y=z" a=b` must capture `x y=z`
    and keep matching AFTER the closing quote (r15 pipe-semantics
    corpus)."""
    import pandas as pd

    from victorialogs_spark.logsql.lexer import _unquote

    def _apply(text: str):
        out = [None] * n_fields
        if text is None:
            return out
        s = text
        first_prefix = steps[0][0]
        if first_prefix:
            n = s.find(first_prefix)
            if n < 0:
                return out
            s = s[n + len(first_prefix):]
        for i in range(len(steps) - 1):
            _, name, opt = steps[i]
            next_prefix = steps[i + 1][0]
            captured = None
            if opt != "plain" and s[:1] in ('"', "`"):
                try:
                    captured, end = _unquote(s, 0, s[0])
                except ValueError:
                    captured = None
            if captured is not None:
                out[i] = captured
                s = s[end:]
                if not s.startswith(next_prefix):
                    # mismatch KEEPS earlier captures — apply() clears
                    # matches only at entry (pattern.go:101,118-121)
                    return out
                s = s[len(next_prefix):]
            else:
                if next_prefix == "":
                    out[i] = s
                    return out
                n = s.find(next_prefix)
                if n < 0:
                    return out
                out[i] = s[:n]
                s = s[n + len(next_prefix):]
        return out

    schema = ", ".join(f"f{i} string" for i in range(n_fields))

    def _batch(series):
        return pd.DataFrame(
            [_apply(t) for t in series],
            columns=[f"f{i}" for i in range(n_fields)],
        )

    _batch.__annotations__ = {"series": pd.Series, "return": pd.DataFrame}
    # nondeterministic mark (it IS deterministic): per-field extraction
    # below must not let CollapseProject clone the scanner per field
    return F.pandas_udf(_batch, schema).asNondeterministic()


def _p_extract(p: A.PExtract, df: DataFrame, ctx) -> DataFrame:
    steps = _parse_pattern_steps(p.pattern)
    n_fields = len(steps) - 1
    src = fcol(df, p.from_field)
    cond = compile_filter(p.cond, df, ctx) if p.cond is not None else None
    udf = _extract_scan_udf(steps, n_fields)
    tmp = "__vl_extract"
    df = df.withColumn(tmp, udf(src))
    for i in range(n_fields):
        name = steps[i][1]
        if not name or name == "_":
            continue
        val = F.coalesce(qcol(tmp)[f"f{i}"], F.lit(""))
        df = _assign_extracted(df, name, val, p.keep_original_fields, p.skip_empty_results, cond)
    return df.drop(tmp)


def _convert_named_groups(pattern: str) -> str:
    """Named groups → plain groups for the Java side: extraction is by
    INDEX (groupindex from the Python compile), so names only need to be
    valid Python — Java's stricter group-name grammar
    ([a-zA-Z][a-zA-Z0-9]*) rejected reference-legal names like ``_msg``
    (r15 pipe-semantics corpus finding; escape/class-aware scanner per
    the r15 advice)."""
    return anonymize_named_groups(pattern)


def _p_extract_regexp(p: A.PExtractRegexp, df: DataFrame, ctx) -> DataFrame:
    py_pat = to_python_regex(p.pattern) if "(?P<" not in p.pattern else p.pattern
    try:
        groups = re.compile(py_pat).groupindex
    except re.error as e:
        raise ValueError(f"extract_regexp: bad pattern {p.pattern!r}: {e}")
    java_pat = _convert_named_groups(py_pat)
    src = fcol(df, p.from_field)
    cond = compile_filter(p.cond, df, ctx) if p.cond is not None else None
    for name, idx in groups.items():
        val = F.regexp_extract(src, java_pat, idx)
        df = _assign_extracted(df, name, val, p.keep_original_fields, p.skip_empty_results, cond)
    return df


def _assign_extracted(
    df: DataFrame,
    name: str,
    val: Column,
    keep_original: bool,
    skip_empty: bool,
    cond: Column | None,
) -> DataFrame:
    existing = fcol(df, name)
    out = val
    if keep_original:
        out = F.when(existing != "", existing).otherwise(out)
    if skip_empty:
        out = F.when(out == "", existing).otherwise(out)
    if cond is not None:
        out = F.when(cond, out).otherwise(existing)
    return df.withColumn(name, out)


def _assign_extracted_batch(
    df: DataFrame,
    names_vals: list,
    keep_original: bool,
    skip_empty: bool,
    cond: Column | None,
) -> DataFrame:
    """Batched _assign_extracted for the unpack pipes: ONE withColumns
    call instead of a per-key withColumn loop — each withColumn builds
    a new Dataset and re-analyzes the whole plan, O(n^2) driver time at
    the MAX_UNPACK_COLS=2000 cap (r14 review finding). Unpack names are
    distinct and every expression references only the parsed-map column
    and its OWN name's pre-existing column, so the batch is semantics-
    identical to the sequential loop."""
    updates = {}
    for name, val in names_vals:
        existing = fcol(df, name)
        out = val
        if keep_original:
            out = F.when(existing != "", existing).otherwise(out)
        if skip_empty:
            out = F.when(out == "", existing).otherwise(out)
        if cond is not None:
            out = F.when(cond, out).otherwise(existing)
        updates[name] = out
    return df.withColumns(updates) if updates else df


_FORMAT_FIELD_RE = re.compile(r"<([^<>]*)>")


def _json_quote_manual(c: Column) -> Column:
    e = F.regexp_replace(c, r"\\", r"\\\\")
    e = F.regexp_replace(e, '"', '\\\\"')
    e = F.regexp_replace(e, "\n", "\\\\n")
    e = F.regexp_replace(e, "\r", "\\\\r")
    e = F.regexp_replace(e, "\t", "\\\\t")
    return F.concat(F.lit('"'), e, F.lit('"'))


def _format_term(df: DataFrame, spec: str) -> Column:
    """One <...> term of a format pattern, with converter prefixes
    (pipe_format.go, docs LogsQL.md:2112-2226)."""
    if ":" in spec:
        conv, fieldn = spec.split(":", 1)
        conv = conv.lower()
        c = fcol(df, fieldn)
        if conv == "q":
            return _json_quote_manual(c)
        if conv == "uc":
            return F.upper(c)
        if conv == "lc":
            return F.lower(c)
        if conv == "urlencode":
            return F.url_encode(c)
        if conv == "urldecode":
            return F.url_decode(c)
        if conv == "hexencode":
            # UPPERCASE hex digits (appendHexEncode hexCharUpper,
            # pipe_format.go:430-438; r15 pipe-semantics corpus)
            return F.hex(c.cast("binary"))
        if conv == "hexdecode":
            return F.unhex(c).cast("string")
        if conv == "base64encode":
            return F.base64(c.cast("binary"))
        if conv == "base64decode":
            # invalid base64 passes the ORIGINAL through (the reference's
            # decode-failure rule); Spark's unbase64 is lenient and would
            # emit garbage for e.g. a 2-char unpadded input
            ok = c.rlike(
                r"^(?:[A-Za-z0-9+/]{4})*"
                r"(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
            )
            return F.when(ok, F.unbase64(c).cast("string")).otherwise(c)
        # converters below pass the ORIGINAL value through when it doesn't
        # parse (pipe_format.go: `b = append(b, v...)` on !ok)
        if conv == "hexnumencode":
            n = _try_cast(c, "long")
            ok = n.isNotNull() & (n >= 0)
            return F.when(ok, F.lpad(F.hex(n), 16, "0")).otherwise(c)
        if conv == "hexnumdecode":
            ok = c.rlike(r"^[0-9a-fA-F]{1,16}$")
            return F.when(ok, F.conv(c, 16, 10)).otherwise(c)
        if conv == "time":
            # timeutil.TryParseUnixTimestamp: fractional and NEGATIVE
            # unix stamps parse, the unit (s/ms/µs/ns) splits at the
            # reference's int32-count boundaries, and formatting floors
            # toward -inf so pre-epoch stamps land in the right second
            # (r15 pipe-semantics corpus). Decimal arithmetic keeps the
            # full ns precision a double would truncate.
            def _time_of(d):
                unit = (
                    F.when(F.abs(d) < F.lit(1 << 31), F.lit(10**9))
                    .when(F.abs(d) < F.lit((1 << 31) * 1000), F.lit(10**6))
                    .when(F.abs(d) < F.lit((1 << 31) * 10**6), F.lit(10**3))
                    .otherwise(F.lit(1))
                )
                ns_col = (d * unit.cast("decimal(20,0)")).cast("long")

                def _fmt(ns):
                    frac9 = F.pmod(ns, F.lit(10**9))

                    def _with_frac(frac):
                        secs = (
                            (ns - frac).cast("decimal(38,0)") / F.lit(10**9)
                        ).cast("long")
                        base = F.date_format(
                            F.timestamp_seconds(secs),
                            "yyyy-MM-dd'T'HH:mm:ss",
                        )
                        fs = F.regexp_replace(
                            F.lpad(frac.cast("string"), 9, "0"), r"0+$", ""
                        )
                        return F.concat(
                            base,
                            F.when(fs != "", F.concat(F.lit("."), fs))
                            .otherwise(F.lit("")),
                            F.lit("Z"),
                        )

                    return let(frac9, _with_frac)

                return F.when(d.isNotNull(), let(ns_col, _fmt)).otherwise(c)

            return let(_try_cast(c, "decimal(29,9)"), _time_of)
        if conv == "duration":
            n = _try_cast(c, "long")  # nanoseconds
            return F.when(n.isNotNull(), duration_string(n)).otherwise(c)
        if conv == "duration_seconds":
            return duration_seconds(c)
        if conv == "ipv4":
            return let(
                _try_cast(c, "long"),
                lambda n: F.when(
                    n.isNotNull() & (n >= 0) & (n <= F.lit(0xFFFFFFFF)),
                    ipv4_str(n),
                ).otherwise(c),
            )
        # unknown converter — treat whole spec as a field name
        return fcol(df, spec)
    return fcol(df, spec)


def _p_format(p: A.PFormat, df: DataFrame, ctx) -> DataFrame:
    parts = _FORMAT_FIELD_RE.split(p.pattern)
    cols: list[Column] = []
    import html as _html

    for i, part in enumerate(parts):
        if i % 2 == 0:
            if part:
                # literal prefixes are HTML-unescaped (&lt; writes a
                # literal '<' — pattern.go:187 html.UnescapeString;
                # r15 pipe-semantics corpus)
                cols.append(F.lit(_html.unescape(part)))
        else:
            cols.append(_format_term(df, part))
    out = F.concat(*cols) if cols else F.lit("")
    existing = fcol(df, p.result)
    if p.keep_original_fields:
        out = F.when(existing != "", existing).otherwise(out)
    if p.skip_empty_results:
        out = F.when(out == "", existing).otherwise(out)
    if p.cond is not None:
        c = compile_filter(p.cond, df, ctx)
        out = F.when(c, out).otherwise(existing)
    return df.withColumn(p.result, out)


# ---------------------------------------------------------------- replace

def _p_replace(p: A.PReplace, df: DataFrame, ctx) -> DataFrame:
    src = fcol(df, p.field_name)
    if p.limit and p.limit > 0:
        if p.regex:
            out = _replace_limited_regex(src, p.old, p.new, p.limit)
        else:
            out = _replace_limited(src, p.old, p.new, p.limit)
    elif p.regex:
        out = F.regexp_replace(src, p.old, _dollar_refs(p.new))
    else:
        out = F.replace(src, F.lit(p.old), F.lit(p.new))
    if p.cond is not None:
        c = compile_filter(p.cond, df, ctx)
        out = F.when(c, out).otherwise(src)
    return df.withColumn(p.field_name, out)


def _dollar_refs(repl: str) -> str:
    # LogsQL uses Go's $1 refs; Java regexp_replace also uses $1 — pass through
    return repl


def _replace_limited(src: Column, old: str, new: str, limit: int) -> Column:
    """literal replace ... limit N: split on the first N occurrences
    (split keeps the tail intact), JVM-side."""
    parts = F.split(src, java_quote(old), limit + 1)
    return F.array_join(parts, new)


def _replace_limited_regex(src: Column, old: str, new: str, limit: int) -> Column:
    """replace_regexp ... limit N with full $n capture-ref support. Spark has
    no bounded regexp_replace, so this is the one genuinely-Python path in
    replace (Arrow-batched pandas UDF, cold path)."""
    import pandas as pd  # noqa: F401 — needed at call time

    py_new = re.sub(r"\$(\d+)", r"\\\1", new.replace("\\", "\\\\"))
    pat = re.compile(old)

    def _repl(s):
        return s.str.replace(pat, py_new, n=limit, regex=True)

    _repl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_repl, "string")(src)


# ---------------------------------------------------------------- unpack

def _flat_json_map(c: Column) -> Column:
    return F.from_json(c, "map<string,string>")


def _infer_keys(df: DataFrame, keys_col: Column) -> list[str]:
    """Learn the key set (the dynamic-schema step; capped at
    MAX_UNPACK_COLS like the reference's 2000-column block cap,
    consts.go:30). Exact: explode(keys) -> distinct is one extra scan of
    the filtered input, so a key that first appears in the last row still
    materializes (the reference unpacks per row with no sampling horizon,
    pipe_unpack_json.go:15); the shuffle is tiny (map-side partial
    distinct reduces it to the key cardinality, not the row count).
    ``keys_col`` is an ARRAY<STRING> of per-row keys — callers pass the
    cheapest extractor they have (json_object_keys beats building the
    full value map just to drop the values). The cap is applied on
    SORTED keys so which 2000 survive is deterministic, not
    partition-order dependent."""
    rows = (
        df.select(F.explode(keys_col).alias("k"))
        .distinct()
        .sort("k")
        .limit(MAX_UNPACK_COLS)
        .collect()
    )
    return [r["k"] for r in rows]


def _unpack_map(p, df: DataFrame, ctx, m: Column,
                keys_col: Column) -> DataFrame:
    """The tail every unpack pipe shares: write the parsed map ``m`` to a
    temp column, take the keys (``p.fields``, or inferred from
    ``keys_col``, the per-row key array over the same rows extraction
    reads), assign ``result_prefix + key`` for each under the pipe's
    keep/skip/cond rules and drop the temp column. Nothing is cached:
    inference and extraction each scan the input, as the reference
    unpacks row by row with no materialization (pipe_unpack_json.go:15);
    at 100 TB re-reading one pruned column beats spilling the parsed
    projection to executor disks."""
    tmp = "__vl_unpack"
    keys = p.fields or _infer_keys(df, keys_col)
    cond = compile_filter(p.cond, df, ctx) if p.cond is not None else None
    out = _assign_extracted_batch(
        df.withColumn(tmp, m),
        [(p.result_prefix + k, F.coalesce(qcol(tmp)[k], F.lit("")))
         for k in keys],
        p.keep_original_fields, p.skip_empty_results, cond,
    )
    return out.drop(tmp)


# object-valued key detector: an object value always follows `"key":`;
# a string VALUE containing the sequence only false-positives into the
# (semantics-identical, slower) flatten path
_NESTED_JSON_RE = '"\\s*:\\s*\\{'


def _p_unpack_json(p: A.PUnpackJson, df: DataFrame, ctx) -> DataFrame:
    src = fcol(df, p.from_field)
    # Plan-time routing, not per-row: a pandas UDF inside a conditional
    # is still extracted to a PythonUDF node and evaluated for EVERY row,
    # so the branch must be chosen before building the expression. Flat
    # JSON (no object-valued keys anywhere — the probe is one bounded
    # single-column scan that short-circuits on the first nested row)
    # keeps the pure-JVM from_json path; nested inputs route through the
    # reference-exact Arrow flattener (functions/jsonflat.py:
    # json_parser.go appendLogFields semantics — r15, retiring the
    # recursive-flatten divergence recorded by the pipe corpus).
    nested = df.where(src.rlike(_NESTED_JSON_RE)).limit(1).count() > 0
    if nested:
        from victorialogs_spark.functions.jsonflat import flatten_json_column

        # inferred from the FLATTENED map: json_object_keys sees only
        # top-level names ('y', never 'y.z.a')
        m = flatten_json_column(src)
        return _unpack_map(p, df, ctx, m, F.map_keys(m))
    m = _flat_json_map(src)
    # Key inference covers the SAME rows as extraction: a cheap strict
    # keys-only parse per row, falling back to the lenient full-map parse
    # ONLY where strict parsing fails (from_json accepts NaN/Infinity
    # literals etc., json_object_keys returns NULL for them) — coalesce
    # short-circuits, so well-formed rows never pay the map build. For
    # strict-valid JSON both return the same top-level key set; keys
    # strict finds on rows lenient can't parse only add columns whose
    # extraction value is '' — the reference's missing-key result.
    keys_col = F.coalesce(F.json_object_keys(src), F.map_keys(m))
    return _unpack_map(p, df, ctx, m, keys_col)


def _p_unpack_logfmt(p: A.PUnpackLogfmt, df: DataFrame, ctx) -> DataFrame:
    # Reference-exact logfmt splitting (logfmt_parser.go via
    # functions/syslogparse._parse_logfmt_pairs, the same splitter the
    # RFC5424 SD parser uses): bare keys yield empty values ('foo' →
    # foo=''), '=value' keeps the empty name (≡ _msg in the data model),
    # names TrimSpace, Go-quoted values unquote. The old regex demanded
    # '=' and \\w+ keys, silently dropping bare keys and dotted/dashed
    # names (r15 logfmt-parser corpus findings).
    from victorialogs_spark.functions.syslogparse import logfmt_map_column

    m = logfmt_map_column(fcol(df, p.from_field))
    return _unpack_map(p, df, ctx, m, F.map_keys(m))


def _p_unpack_syslog(p: A.PUnpackSyslog, df: DataFrame, ctx) -> DataFrame:
    # Reference-exact PROGRESSIVE parser (syslog_parser.go via
    # functions/syslogparse.py): each header field is optional from the
    # right, RFC3164 timestamps convert to ISO8601-millis UTC with the
    # current-year inference, and RFC5424 structured-data params flatten
    # into DYNAMIC `sdID.param` field names — hence the unpack_json-style
    # key inference over the parsed map. The old single-regex battery
    # demanded the full header shape and dropped SD params entirely (r15
    # syslog-parser corpus findings). The reference defaults the RFC3164
    # timezone to the HOST's local zone — ill-defined on a cluster; ours
    # is UTC unless `offset` is given (documented divergence on non-UTC
    # hosts only). year/now are plan-time constants.
    import datetime as _dt
    import time as _time

    from victorialogs_spark.functions.syslogparse import syslog_map_column

    now = _time.time()
    year = _dt.datetime.now(_dt.timezone.utc).year
    m = syslog_map_column(fcol(df, p.from_field), year, now, p.offset_ns)
    return _unpack_map(p, df, ctx, m, F.map_keys(m))


def _p_unpack_words(p: A.PUnpackWords, df: DataFrame, ctx) -> DataFrame:
    src = fcol(df, p.src)
    words = F.filter(F.split(src, NON_TOKEN_RE), lambda w: w != "")
    if p.drop_duplicates:
        # first-occurrence order, before the limit applies
        # (pipe_unpack_words.go keepDuplicateTokens)
        words = F.array_distinct(words)
    if p.limit:
        words = F.slice(words, 1, p.limit)
    return df.withColumn(p.dst, F.to_json(words))


def _unroll_elems_udf():
    """Lenient JSON-array element extraction, reference-style (fastjson):
    strings unquote, null renders "null", NaN parses and renders "NaN",
    nested objects/arrays keep their compact JSON text (pipe_unroll
    semantics — Spark's from_json(array<string>) NULLs the whole array
    on any non-string element; r15 pipe-semantics corpus). Returns NULL
    for non-array / unparseable input (callers fall back)."""
    import json
    import math

    import pandas as pd

    def _one(s):
        if s is None:
            return None
        try:
            v = json.loads(s)
        except Exception:  # noqa: BLE001 — not JSON: no elements
            return None
        if not isinstance(v, list):
            return None
        elems = []
        for e in v:
            if e is None:
                elems.append("null")
            elif isinstance(e, str):
                elems.append(e)
            elif isinstance(e, bool):
                elems.append("true" if e else "false")
            elif isinstance(e, float):
                if math.isnan(e):
                    elems.append("NaN")
                elif e == int(e) and abs(e) < 2**62:
                    elems.append(str(int(e)))
                else:
                    elems.append(repr(e))
            elif isinstance(e, int):
                elems.append(str(e))
            else:
                elems.append(json.dumps(e, separators=(",", ":")))
        return elems

    def _elems(series):
        return pd.Series([_one(s) for s in series], dtype="object")

    _elems.__annotations__ = {"series": pd.Series, "return": pd.Series}
    return F.pandas_udf(_elems, "array<string>")


def _p_unroll(p: A.PUnroll, df: DataFrame, ctx) -> DataFrame:
    udf = _unroll_elems_udf()
    cond = compile_filter(p.cond, df, ctx) if p.cond is not None else None
    if len(p.fields) == 1:
        f = p.fields[0]
        arr = let(
            udf(fcol(df, f)),
            lambda a: F.when(
                a.isNull() | (F.size(a) == 0), F.array(F.lit(""))
            ).otherwise(a),
        )
        if cond is not None:
            # per-pipe if (...): non-matching rows pass through UNCHANGED
            # (one row, original value) instead of being unrolled
            arr = F.when(cond, arr).otherwise(F.array(fcol(df, f)))
        return df.withColumn(f, F.explode(arr))
    arrays = {
        f: F.coalesce(udf(fcol(df, f)), F.array()) for f in p.fields
    }
    if cond is not None:
        arrays = {
            f: F.when(cond, arrays[f]).otherwise(F.array(fcol(df, f)))
            for f in p.fields
        }
    zipped = F.arrays_zip(*[arrays[f].alias(f) for f in p.fields])
    tmp = "__vl_unroll"
    out = df.withColumn(tmp, F.explode_outer(zipped))
    for f in p.fields:
        out = out.withColumn(f, F.coalesce(qcol(tmp)[f], F.lit("")))
    return out.drop(tmp)


def _p_pack_json(p: A.PPackJson, df: DataFrame, ctx) -> DataFrame:
    names = _expand_wildcards(df, p.fields) if p.fields else list(df.columns)
    # pack only the fields PRESENT on the row: the reference packs a
    # block's stored columns (pipe_pack.go:60-78) and empty values are
    # never stored, so missing/empty fields don't appear in the packed
    # output (r15 pipe-semantics corpus). map keeps the field order.
    m = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(n) for n in names]),
            F.array(*[fcol(df, n) for n in names]),
        ),
        lambda _k, v: v != "",
    )
    return df.withColumn(p.result, F.to_json(m))


def _p_pack_logfmt(p: A.PPackLogfmt, df: DataFrame, ctx) -> DataFrame:
    names = _expand_wildcards(df, p.fields) if p.fields else list(df.columns)
    parts = []
    for n in names:
        v = fcol(df, n)
        # logfmt quotes on control chars/space, '"' and backslash ONLY —
        # '=' inside a VALUE is legal unquoted (needLogfmtQuoting /
        # isLogfmtSpecialChar, rows.go:105-123; r15 pipe-semantics corpus)
        needs_quote = v.rlike(r'[\x00-\x20"\\]')
        quoted = F.when(needs_quote, _json_quote_manual(v)).otherwise(v)
        # empty ≡ missing: not packed (see _p_pack_json)
        parts.append(
            F.when(v != "", F.concat(F.lit(n + "="), quoted))
        )
    return df.withColumn(p.result, F.concat_ws(" ", *parts))


# ---------------------------------------------------------------- multi-query

# forced-broadcast ceiling for the join pipe's subquery side: under the
# cap, hint broadcast (the reference always builds an in-memory hash map
# of the subquery, storage_search.go:212-273 — but it ERRORS on memory
# caps, while a forced Spark broadcast of an unbounded subquery OOMs the
# driver). Above it, no hint: AQE picks broadcast at runtime iff the
# actual size qualifies, else shuffled hash/sort-merge.
JOIN_BROADCAST_MAX_BYTES = 64 << 20


def _p_join(p: A.PJoin, df: DataFrame, ctx) -> DataFrame:
    sub = ctx.run_subquery(p.query)
    # prefix non-key columns if requested (pipe_join.go:16-31)
    if p.prefix:
        for c in sub.columns:
            if c not in p.by:
                sub = sub.withColumnRenamed(c, p.prefix + c)
    # same-named non-key columns: the reference OVERWRITES the row's field
    # with the subquery's value when it is non-empty (getJoinMapGeneric
    # skips empty values), keeping the original otherwise — a duplicate
    # column would be an ambiguous schema in Spark
    conflicts = [c for c in sub.columns if c in df.columns and c not in p.by]
    left_tmp = {c: f"__vl_jl_{c}" for c in conflicts}
    for c, tmp in left_tmp.items():
        df = df.withColumnRenamed(c, tmp)
    how = "inner" if p.inner else "left"
    sub_b = sub
    try:
        est = int(
            sub._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString()
        )
    except Exception:
        est = JOIN_BROADCAST_MAX_BYTES + 1  # unknown size: never force
    if est <= JOIN_BROADCAST_MAX_BYTES:
        sub_b = F.broadcast(sub)
    joined = df.join(sub_b, on=[c for c in p.by], how=how)
    for c, tmp in left_tmp.items():
        joined = joined.withColumn(
            c,
            F.when(
                F.coalesce(qcol(c).cast("string"), F.lit("")) != "", qcol(c)
            ).otherwise(qcol(tmp)),
        ).drop(tmp)
    # left-join nulls read as '' downstream (missing ≡ empty)
    for c, t in joined.dtypes:
        if t == "string" and c not in df.columns and c not in left_tmp:
            joined = joined.withColumn(c, F.coalesce(qcol(c), F.lit("")))
    return joined


def _p_union(p: A.PUnion, df: DataFrame, ctx) -> DataFrame:
    other = ctx.run_subquery(p.query)
    out = df.unionByName(other, allowMissingColumns=True)
    for c, t in out.dtypes:
        if t == "string":
            out = out.withColumn(c, F.coalesce(qcol(c), F.lit("")))
    return out


# ---------------------------------------------------------------- uniq / top / facets

def _p_uniq(p: A.PUniq, df: DataFrame, ctx) -> DataFrame:
    # wildcards expand like fields/delete/stats: `uniq by (*)` means
    # distinct over ALL fields (pipe_uniq_test.go:31); un-expanded, '*'
    # is not a column and fcol collapsed every row onto the constant ''
    # (r14 review finding). Same for prefix wildcards and `top`.
    by = _expand_wildcards(df, p.by) if p.by else list(df.columns)
    keys = [fcol(df, f).alias(f) for f in by]
    if p.hits_field:
        # a group field named like the hits column gets the reference's
        # 's'-suffix disambiguation (pipe_uniq.go; r15 corpus)
        hits_field = p.hits_field
        while hits_field in by:
            hits_field += "s"
        p = A.PUniq(p.by, hits_field, p.limit)
        out = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(p.hits_field))
        if p.limit:
            # reference zeroes hits once the unique count exceeds the limit
            # (pipe_uniq.go:21-30); broadcast the 1-row total, no collect
            total = out.agg(F.count(F.lit(1)).alias("__vl_total"))
            out = out.crossJoin(F.broadcast(total))
            out = out.withColumn(
                p.hits_field,
                F.when(qcol("__vl_total") > p.limit, F.lit(0)).otherwise(
                    qcol(p.hits_field)
                ),
            ).drop("__vl_total")
    else:
        out = df.select(*keys).distinct()
    if p.limit:
        out = out.limit(p.limit)
    return out


def _p_top(p: A.PTop, df: DataFrame, ctx) -> DataFrame:
    by = _expand_wildcards(df, p.by) if p.by else list(df.columns)
    keys = [fcol(df, f).alias(f) for f in by]
    # group fields named like the hits/rank columns get the reference's
    # 's'-suffix disambiguation (pipe_top.go:74-76,default; r15 corpus)
    hits_field, rank_name = p.hits_field, p.rank_name
    while hits_field in by:
        hits_field += "s"
    while rank_name is not None and rank_name in by:
        rank_name += "s"
    grouped = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(hits_field))
    order = [F.desc(hits_field)] + [qcol(f).asc() for f in by]
    out = grouped.orderBy(*order).limit(p.n)
    if rank_name:
        w = Window.orderBy(*order)
        out = out.withColumn(rank_name, F.row_number().over(w).cast("string"))
    return out


def _p_field_values(p: A.PFieldValues, df: DataFrame, ctx) -> DataFrame:
    out = (
        df.groupBy(fcol(df, p.field_name).alias(p.field_name))
        .agg(F.count(F.lit(1)).alias("hits"))
        .orderBy(qcol(p.field_name).asc())
    )
    if p.limit:
        out = out.limit(p.limit)
    return out


def _p_field_names(p: A.PFieldNames, df: DataFrame, ctx) -> DataFrame:
    """Melt: one count per column of non-empty values (pipe_field_names.go)."""
    aggs = [
        F.count(F.when(fcol(df, c) != "", F.lit(1))).alias(c) for c in df.columns
    ]
    counts = df.agg(*aggs)
    pairs = F.explode(
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in df.columns]),
            F.array(*[qcol(c) for c in df.columns]),
        )
    )
    name_col = getattr(p, "result", "name") or "name"
    return counts.select(pairs.alias(name_col, "hits")).where(qcol("hits") > 0)


def _p_facets(p: A.PFacets, df: DataFrame, ctx) -> DataFrame:
    """Per-field top-N values (pipe_facets.go:29-60): melt all fields →
    count (field, value) pairs → per-field caps + top-N window."""
    cols = [c for c in df.columns if dict(df.dtypes).get(c) == "string"]
    melted = df.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cols]),
                F.array(*[fcol(df, c) for c in cols]),
            )
        ).alias("field_name", "field_value")
    ).where((qcol("field_value") != "") & (F.octet_length(qcol("field_value")) <= p.max_value_len))
    counted = melted.groupBy("field_name", "field_value").agg(F.count(F.lit(1)).alias("hits"))
    wf = Window.partitionBy("field_name")
    counted = counted.withColumn("__nvals", F.count(F.lit(1)).over(wf))
    if not p.keep_const_fields:
        # const-field detection needs the total row count: broadcast a 1-row
        # aggregate instead of a driver-side count() action mid-plan
        total = df.agg(F.count(F.lit(1)).alias("__vl_total"))
        counted = counted.crossJoin(F.broadcast(total))
        counted = counted.where(
            ~((qcol("__nvals") == 1) & (qcol("hits") == qcol("__vl_total")))
        ).drop("__vl_total")
    counted = counted.where(qcol("__nvals") <= p.max_values_per_field)
    w = Window.partitionBy("field_name").orderBy(F.desc("hits"), F.asc("field_value"))
    out = (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(qcol("__rn") <= p.n)
        .drop("__rn", "__nvals")
        .orderBy("field_name", F.desc("hits"), "field_value")
    )
    return out


# ---------------------------------------------------------------- misc row ops

def _p_len(p: A.PLen, df: DataFrame, ctx) -> DataFrame:
    return df.withColumn(p.result, F.octet_length(fcol(df, p.field_name)).cast("string"))


def _p_json_array_len(p: A.PJsonArrayLen, df: DataFrame, ctx) -> DataFrame:
    arr = F.from_json(fcol(df, p.field_name), "array<string>")
    n = F.when(arr.isNull(), F.lit(0)).otherwise(F.size(arr))
    return df.withColumn(p.result, n.cast("string"))


def _p_hash(p: A.PHash, df: DataFrame, ctx) -> DataFrame:
    # xxhash64 (JVM, seed 42) — the reference uses cespare/xxhash seed 0
    # (pipe_hash.go); exact hash values intentionally diverge
    return df.withColumn(p.result, unsigned_str(F.xxhash64(fcol(df, p.field_name))))


def _p_sample(p: A.PSample, df: DataFrame, ctx) -> DataFrame:
    if p.n <= 1:
        return df
    return df.where(F.rand() < 1.0 / p.n)


def _p_collapse_nums(p: A.PCollapseNums, df: DataFrame, ctx) -> DataFrame:
    src = fcol(df, p.field_name)
    out = F.regexp_replace(
        src,
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        "<UUID>" if p.prettify else "<N>-<N>-<N>-<N>-<N>",
    )
    out = F.regexp_replace(out, r"\b0[xX][0-9a-fA-F]+\b", "<N>")
    out = F.regexp_replace(out, r"\d+", "<N>")
    if p.prettify:
        # full reference pass order incl. trailing-subsec/timezone
        # consumption and the <DATETIME> merge
        # (pipe_collapse_nums.go:199-206, skipTrailingSubsecs,
        # skipTrailingTimezone; r15 pipe-semantics corpus)
        out = F.regexp_replace(out, r"<N>\.<N>\.<N>\.<N>", "<IP4>")
        out = F.regexp_replace(out, r"<N>:<N>:<N>([.,]<N>)?", "<TIME>")
        out = F.regexp_replace(out, r"<N>-<N>-<N>", "<DATE>")
        out = F.regexp_replace(out, r"<N>/<N>/<N>", "<DATE>")
        out = F.regexp_replace(
            out, r"<DATE>[T ]<TIME>(Z|[+-]<N>:<N>)?", "<DATETIME>"
        )
    if p.cond is not None:
        c = compile_filter(p.cond, df, ctx)
        out = F.when(c, out).otherwise(src)
    return df.withColumn(p.field_name, out)


def _p_decolorize(p: A.PDecolorize, df: DataFrame, ctx) -> DataFrame:
    src = fcol(df, p.field_name)
    return df.withColumn(p.field_name, F.regexp_replace(src, ANSI_COLOR_RE, ""))


def _p_drop_empty_fields(p: A.PDropEmptyFields, df: DataFrame, ctx) -> DataFrame:
    """Drop rows where all fields are empty, and columns that are empty
    everywhere (fixed-schema approximation of the per-row semantics in
    pipe_drop_empty_fields.go — divergence documented).

    Every scalar column is read through fcol: NULL or missing is empty, a
    non-null number, boolean or timestamp is not. Map, array and struct
    columns (``_other``) take part in neither half, and neither does
    ``_time``: every stored row has one, so counting it would keep the
    rows whose fields are all empty.

    The column-drop half must observe data before the schema can change:
    a flags aggregation scans the filtered input, then the query scans it
    again. The two scans read the source at two instants: a concurrent
    append/compaction between them can drop a column whose values only
    arrived in between (batch-over-immutable-snapshot is this engine's
    general read model; run against a quiesced day like every other
    multi-pass operator)."""
    cols = [
        c for c, t in df.dtypes
        if c != "_time" and not t.startswith(("map<", "array<", "struct<"))
    ]
    if not cols:
        return df
    nonempty = [fcol(df, c) != "" for c in cols]
    any_nonempty = F.lit(False)
    for ne in nonempty:
        any_nonempty = any_nonempty | ne
    df = df.where(any_nonempty)
    flags = df.agg(
        *[F.max(ne).alias(c) for c, ne in zip(cols, nonempty)]
    ).collect()[0]
    empties = [c for c, flag in zip(cols, flags) if not flag]
    return df.drop(*empties) if empties else df


def _local_paths(df: DataFrame) -> list[str]:
    """Input files as pyarrow-readable paths — the shared helper in
    planner/filters.py (one decoding rule for every footer reader)."""
    from victorialogs_spark.planner.filters import local_input_paths

    return local_input_paths(df)


def _row_group_stats_df(spark, paths: list[str]) -> DataFrame:
    """Per-(row-group, column-chunk) parquet metadata, read distributed
    (footers only — executors each read their files' metadata). The Spark
    analogue of the reference's per-block column stats
    (pipe_block_stats.go:167: name, type, values_size, ..., part_path);
    Parquet has no per-block blooms/dicts to report, so the columns are
    the chunk's physical type, compressed/uncompressed bytes and rows."""
    # one partition per file (capped at the cluster's parallelism): the
    # default layout spreads N paths over defaultParallelism partitions,
    # paying a Python-worker launch per EMPTY partition when N is small
    pdf = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        min(len(paths), spark.sparkContext.defaultParallelism)
    )

    def _stats(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        cols = ["field", "type", "values_size", "uncompressed_size", "rows", "part_path"]
        for chunk in batches:
            out = []
            for path in chunk["path"]:
                try:
                    md = pq.read_metadata(path)
                except Exception:
                    continue  # unreadable scheme/file: skip, don't fail
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        out.append(
                            (
                                c.path_in_schema,
                                str(c.physical_type),
                                str(c.total_compressed_size),
                                str(c.total_uncompressed_size),
                                str(c.num_values),
                                f"{path}#rg{rg}",
                            )
                        )
            if out:
                yield pd.DataFrame(out, columns=cols)

    schema = ("field string, type string, values_size string,"
              " uncompressed_size string, rows string, part_path string")
    return pdf.mapInPandas(_stats, schema)


def _p_blocks_count(p: A.PBlocksCount, df: DataFrame, ctx) -> DataFrame:
    """Storage-unit count: parquet ROW GROUPS of the input files (the
    closest analogue of the reference's ~2MB blocks; blocks_count docs).
    Falls back to the partition count for in-memory frames."""
    spark = df.sparkSession
    paths = _local_paths(df)
    n = 0
    if paths:
        # count-only path: per-file num_row_groups summed — no per-chunk
        # row explosion and no distinct shuffle (block_stats keeps the
        # full listing; this pipe only needs the count)
        import pandas as pd

        def _count(batches):
            import pyarrow.parquet as pq

            for chunk in batches:
                c = 0
                for path in chunk["path"]:
                    try:
                        c += pq.read_metadata(path).num_row_groups
                    except Exception:
                        continue
                yield pd.DataFrame({"n": [c]})

        pdf = spark.createDataFrame(
            [(q,) for q in paths], "path string"
        ).repartition(min(len(paths), spark.sparkContext.defaultParallelism))
        row = pdf.mapInPandas(_count, "n long").agg(F.sum("n")).collect()[0]
        n = row[0] or 0
    if n == 0:  # in-memory frame, or no readable footer
        n = df.rdd.getNumPartitions()
    return spark.createDataFrame([(str(n),)], [getattr(p, "result", "blocks_count")])


def _p_block_stats(p: A.PBlockStats, df: DataFrame, ctx) -> DataFrame:
    """Per-block per-column storage stats from parquet row-group metadata
    (footers read distributed); dtype listing for in-memory frames."""
    spark = df.sparkSession
    paths = _local_paths(df)
    if paths:
        return _row_group_stats_df(spark, paths)
    rows = [(c, t) for c, t in df.dtypes]
    return spark.createDataFrame(rows, ["field", "type"])


def _p_stream_context(p: A.PStreamContext, df: DataFrame, ctx) -> DataFrame:
    """grep -A/-B per stream (pipe_stream_context.go:27): two-pass plan —
    matched rows → (stream, time) anchors → range-join the source table on
    the stream key within the time window, keep rows within before/after
    row-distance via a ranking window, then append per-group `---` delimiter
    rows (newDelimiterRowFields, pipe_stream_context.go:737-756).

    Scale: no explicit broadcast hint on the anchor side — a broad filter can
    match millions of anchors; AQE picks broadcast vs shuffle at runtime."""
    source = ctx.source_df
    if source is None or "_stream_id" not in source.columns:
        raise NotImplementedError("stream_context requires a log table with _stream_id")
    # the piped frame had engine-internal scan columns dropped by the
    # planner; this re-join of the raw source must shed them too
    internal = [c for c in source.columns if c.startswith("__")]
    if internal:
        source = source.drop(*internal)
    anchors = df.select(
        qcol("_stream_id").alias("__a_sid"), qcol("_time").alias("__a_time")
    ).distinct()
    w = p.time_window_ns // 1000  # µs
    j = source.join(
        anchors,
        (qcol("_stream_id") == qcol("__a_sid"))
        & (F.unix_micros(qcol("_time")) >= F.unix_micros(qcol("__a_time")) - w)
        & (F.unix_micros(qcol("_time")) <= F.unix_micros(qcol("__a_time")) + w),
        "inner",
    )
    # row-distance rank per (anchor, stream)
    win = Window.partitionBy("__a_sid", "__a_time").orderBy(qcol("_time"))
    j = j.withColumn("__rn", F.row_number().over(win))
    anchor_rn = F.max(F.when(qcol("_time") == qcol("__a_time"), qcol("__rn"))).over(
        Window.partitionBy("__a_sid", "__a_time")
    )
    j = j.withColumn("__arn", anchor_rn)
    j = j.where(
        (qcol("__rn") >= qcol("__arn") - p.before) & (qcol("__rn") <= qcol("__arn") + p.after)
    )
    rows = j.drop("__rn", "__arn").distinct()
    # delimiter rows: one after each context group when >1 group exists
    groups = rows.groupBy("__a_sid", "__a_time").agg(
        F.max(qcol("_time")).alias("__maxt"),
        F.any_value(qcol("_stream")).alias("__stream")
        if "_stream" in source.columns
        else F.lit("").alias("__stream"),
    )
    total = groups.agg(F.count(F.lit(1)).alias("__n"))
    delim_cols = []
    for c, t in rows.drop("__a_sid", "__a_time").dtypes:
        if c == "_time":
            delim_cols.append(
                F.timestamp_micros(F.unix_micros(qcol("__maxt")) + 1).alias("_time")
            )
        elif c == "_stream_id":
            delim_cols.append(qcol("__a_sid").alias(c))
        elif c == "_stream":
            delim_cols.append(qcol("__stream").alias(c))
        elif c == "_msg":
            delim_cols.append(F.lit("---").alias(c))
        else:
            delim_cols.append(F.lit("").cast(t).alias(c))
    delims = (
        groups.crossJoin(F.broadcast(total)).where(qcol("__n") > 1).select(*delim_cols)
    )
    out = rows.drop("__a_sid", "__a_time")
    return out.unionByName(delims, allowMissingColumns=False)


_DISPATCH = {
    A.PFields: _p_fields,
    A.PDelete: _p_delete,
    A.PCopy: _p_copy,
    A.PRename: _p_rename,
    A.PFilter: _p_filter,
    A.PLimit: _p_limit,
    A.POffset: _p_offset,
    A.PSort: _p_sort,
    A.PFirst: _p_first,
    A.PStats: _p_stats,
    A.PMath: _p_math,
    A.PExtract: _p_extract,
    A.PExtractRegexp: _p_extract_regexp,
    A.PReplace: _p_replace,
    A.PFormat: _p_format,
    A.PUnpackJson: _p_unpack_json,
    A.PUnpackLogfmt: _p_unpack_logfmt,
    A.PUnpackSyslog: _p_unpack_syslog,
    A.PUnpackWords: _p_unpack_words,
    A.PUnroll: _p_unroll,
    A.PPackJson: _p_pack_json,
    A.PPackLogfmt: _p_pack_logfmt,
    A.PJoin: _p_join,
    A.PUnion: _p_union,
    A.PUniq: _p_uniq,
    A.PTop: _p_top,
    A.PFacets: _p_facets,
    A.PFieldNames: _p_field_names,
    A.PFieldValues: _p_field_values,
    A.PLen: _p_len,
    A.PJsonArrayLen: _p_json_array_len,
    A.PHash: _p_hash,
    A.PSample: _p_sample,
    A.PCollapseNums: _p_collapse_nums,
    A.PDecolorize: _p_decolorize,
    A.PDropEmptyFields: _p_drop_empty_fields,
    A.PBlocksCount: _p_blocks_count,
    A.PBlockStats: _p_block_stats,
    A.PStreamContext: _p_stream_context,
}
