"""Query-API parity helpers: the /select/logsql/* endpoints re-expressed as
DataFrame builders (app/vlselect/logsql/logsql.go).

- hits            — per-step histogram of matching rows (logsql.go:116-219:
                    drop all pipes, append `stats by (_time:step offset off,
                    fields...) count() hits`, parser.go:367,408)
- stats_query     — instant stats vector (logsql.go:828)
- stats_query_range — range vectors: ensures a `_time:step` bucket in the
                    final stats pipe (logsql.go:694, parser.go:748)
- streams / stream_ids / stream_field_names / stream_field_values —
  metadata queries (storage_search.go:188-488)
- field_names / field_values — delegate to the pipes of the same name
- query_ndjson    — run a query and emit NDJSON lines (logsql.go:901)
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from victorialogs_spark.functions.natural import format_number
from victorialogs_spark.logsql import ast as A
from victorialogs_spark.logsql.parser import (
    extract_time_range,
    parse_duration_ns,
    parse_query,
)
from victorialogs_spark.planner.planner import plan_query


def _parse(query: str, timestamp_ns: int | None = None) -> A.Query:
    return parse_query(query, timestamp_ns)


def _extra_filter_query(s: str, stream: bool) -> str:
    """Convert an extra_filters arg to LogsQL: either already a filter
    string, or the JSON form {"field": "value"|["v1","v2"], ...}
    (logsql.go parseExtraFilters / parseExtraStreamFilters)."""
    import re as _re

    if not s.startswith('{"'):
        return s
    kvs = json.loads(s)
    if not isinstance(kvs, dict):
        raise ValueError(f"extra_filters JSON must be an object: {s!r}")
    parts = []
    for k, v in kvs.items():
        raw = v if isinstance(v, list) else [v]
        if not raw:
            # an empty value list matches everything — the key is skipped
            # (logsql_test.go: {"a":[]} contributes nothing; an in() with
            # no args would match NOTHING instead)
            continue
        if not all(isinstance(x, str) for x in raw):
            # the reference rejects non-string values ({"foo":[1]})
            raise ValueError(f"extra_filters values must be strings: {s!r}")
        vals = list(raw)
        if stream:
            if len(vals) == 1:
                parts.append(f"{json.dumps(k)}={json.dumps(vals[0])}")
            else:
                # Go regexp.QuoteMeta, not re.escape — the canonical form
                # must match the reference's (logsql_test.go pins
                # 'd|e\\|\"'; re.escape over-escapes)
                from victorialogs_spark.logsql.parser import _quote_meta

                pat = "|".join(_quote_meta(x) for x in vals)
                parts.append(f"{json.dumps(k)}=~{json.dumps(pat)}")
        else:
            if len(vals) == 1:
                parts.append(f"{json.dumps(k)}:={json.dumps(vals[0])}")
            else:
                joined = ",".join(json.dumps(x) for x in vals)
                parts.append(f"{json.dumps(k)}:in({joined})")
    return "{" + ",".join(parts) + "}" if stream else " ".join(parts)


def apply_common_args(
    q: A.Query,
    start_ns: int | None = None,
    end_ns: int | None = None,
    extra_filters: list[str] | str | None = None,
    extra_stream_filters: list[str] | str | None = None,
    timestamp_ns: int | None = None,
) -> A.Query:
    """AND the standard query args onto a parsed query: the [start, end]
    time range plus extra_filters / extra_stream_filters, exactly like the
    HTTP layer does (logsql.go getCommonParams:1180-1208)."""

    def _as_list(v):
        vs = [v] if isinstance(v, str) else list(v or [])
        # the reference ignores empty extra_filters values outright
        # (parseExtraFilters: `if s == "" return nil`) — parsing ""
        # would 400 instead
        return [s for s in vs if s]

    terms = [q.filter]
    if start_ns is not None or end_ns is not None:
        terms.append(
            A.FTime(
                start_ns if start_ns is not None else -(2**62),
                end_ns if end_ns is not None else 2**62,
            )
        )
    def _filter_only(qs: str) -> A.Filter:
        qq = parse_query(qs, timestamp_ns)
        if qq.pipes:
            # extra filters are FILTERS: 'foo | count()' must reject
            # (logsql.go parseExtraFilters; r15 vlselect corpus)
            raise ValueError(f"extra filter must not contain pipes: {qs!r}")
        return qq.filter

    for s in _as_list(extra_filters):
        terms.append(_filter_only(_extra_filter_query(s, False)))
    for s in _as_list(extra_stream_filters):
        terms.append(_filter_only(_extra_filter_query(s, True)))
    terms = [t for t in terms if not isinstance(t, A.FNoop)]
    if len(terms) > 1:
        q.filter = A.FAnd(terms)
    elif terms:
        q.filter = terms[0]
    q.time_range = extract_time_range(q.filter)
    return q


def _common(
    query: str,
    timestamp_ns: int | None,
    start_ns: int | None,
    end_ns: int | None,
    extra_filters,
    extra_stream_filters,
) -> A.Query:
    """parse + the standard arg set — EVERY /select endpoint applies the
    common args, exactly like the reference's parseCommonArgs
    (logsql.go:1136-1211; before r15 only /query did, so start/end/
    extra_filters were silently ignored by hits/stats/streams/facets —
    seventh-pass finding)."""
    return apply_common_args(
        _parse(query, timestamp_ns),
        start_ns, end_ns, extra_filters, extra_stream_filters, timestamp_ns,
    )


def hits(
    spark: SparkSession,
    df: DataFrame,
    query: str,
    step: str = "1h",
    offset: str = "0s",
    fields: list[str] | None = None,
    timestamp_ns: int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    extra_filters=None,
    extra_stream_filters=None,
) -> DataFrame:
    """Per-step hit counts for the query's filter (pipes are dropped —
    Query.DropAllPipes + AddCountByTimePipe semantics).
    Output: (_time, <fields...>, hits)."""
    q = _common(query, timestamp_ns, start_ns, end_ns,
                extra_filters, extra_stream_filters)
    step_ns = parse_duration_ns(step)
    if step_ns is None:
        raise ValueError(f"invalid step {step!r}")
    off_ns = parse_duration_ns(offset)
    if off_ns is None:
        # an unparseable offset must error like an unparseable step —
        # silently coercing to 0 misaligns every bucket
        raise ValueError(f"invalid offset {offset!r}")
    by = [A.ByField("_time", bucket_size=step_ns / 1e9, bucket_offset=off_ns / 1e9)]
    by += [A.ByField(f) for f in (fields or [])]
    q.pipes = [A.PStats(by=by, funcs=[A.StatsFunc("count", [], "hits")])]
    return plan_query(spark, df, q)


def _last_stats_pipe(q: A.Query) -> A.PStats:
    if not q.pipes or not isinstance(q.pipes[-1], A.PStats):
        raise ValueError("query must end with a `stats` pipe")
    return q.pipes[-1]


def _metric_value(out: DataFrame, m: str):
    """A stats result rendered as the wire string: floating values in
    plain decimal like Go's FormatFloat 'f' (Spark's string cast writes
    E-notation below 1e-3 and from 1e7 up), anything else cast."""
    c = F.col(m)
    if isinstance(out.schema[m].dataType, (DoubleType, FloatType)):
        return F.when(c.isNotNull(), format_number(c))
    return c.cast("string")


def stats_query(
    spark: SparkSession,
    df: DataFrame,
    query: str,
    timestamp_ns: int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    extra_filters=None,
    extra_stream_filters=None,
) -> DataFrame:
    """Instant stats vector: one row per (metric function, group-labels).
    Output: (name, labels JSON, value string) — the Prometheus-style
    instant-vector shape. start/end fold into the query filter BEFORE
    planning, so rate()/rate_sum() divide by the API window (the r14
    library fix; the HTTP route's df-level pre-filter alone left the
    divisor at the query-text range — seventh-pass finding)."""
    q = _common(query, timestamp_ns, start_ns, end_ns,
                extra_filters, extra_stream_filters)
    st = _last_stats_pipe(q)
    out = plan_query(spark, df, q)
    label_cols = [b.name for b in st.by]
    metric_cols = [f.result for f in st.funcs]
    labels = F.to_json(F.struct(*[F.col(c).cast("string").alias(c) for c in label_cols])) if label_cols else F.lit("{}")
    # melt via ONE explode over the single aggregate — the former
    # union-of-selects planned a separate scan+aggregate PER metric
    # function (column pruning made the subtrees differ, so not even
    # ReuseExchange deduped them: a 3-func stats_query read the corpus
    # 3×; r15 plan audit)
    entries = F.array(
        *[
            F.struct(
                F.lit(m).alias("name"),
                labels.alias("labels"),
                _metric_value(out, m).alias("value"),
            )
            for m in metric_cols
        ]
    )
    return out.select(F.explode(entries).alias("r")).select(
        "r.name", "r.labels", "r.value"
    )


def stats_query_range(
    spark: SparkSession,
    df: DataFrame,
    query: str,
    step: str = "1h",
    timestamp_ns: int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    extra_filters=None,
    extra_stream_filters=None,
) -> DataFrame:
    """Range vectors: guarantees a `_time:step` bucket in the final stats
    pipe (GetStatsByFieldsAddGroupingByTime), then melts to
    (name, labels, _time, value)."""
    q = _common(query, timestamp_ns, start_ns, end_ns,
                extra_filters, extra_stream_filters)
    st = _last_stats_pipe(q)
    step_ns = parse_duration_ns(step)
    if step_ns is None:
        raise ValueError(f"invalid step {step!r}")
    if not any(b.name == "_time" for b in st.by):
        st.by.insert(0, A.ByField("_time", bucket_size=step_ns / 1e9))
    else:
        for b in st.by:
            if b.name == "_time":
                b.bucket_size = step_ns / 1e9
                # the API step replaces whatever bucketing the query
                # carried — including a calendar 'month'/'year' or
                # Monday-'week' source spelling, which the planner would
                # otherwise prefer over bucket_size
                b.bucket_size_str = None
                b.bucket_offset_str = None
    out = plan_query(spark, df, q)
    label_cols = [b.name for b in st.by if b.name != "_time"]
    metric_cols = [f.result for f in st.funcs]
    labels = F.to_json(F.struct(*[F.col(c).cast("string").alias(c) for c in label_cols])) if label_cols else F.lit("{}")
    # single-scan melt (see stats_query)
    entries = F.array(
        *[
            F.struct(
                F.lit(m).alias("name"),
                labels.alias("labels"),
                F.col("_time").alias("_time"),
                _metric_value(out, m).alias("value"),
            )
            for m in metric_cols
        ]
    )
    res = out.select(F.explode(entries).alias("r")).select(
        "r.name", "r.labels", "r._time", "r.value"
    )
    return res.orderBy("name", "labels", "_time")


# ---------------------------------------------------------------- metadata


def _filtered(
    spark: SparkSession, df: DataFrame, query: str, common: dict | None = None
) -> DataFrame:
    q = _common(query, **_common_kw(common))
    q.pipes = []
    return plan_query(spark, df, q)


def _common_kw(common: dict | None) -> dict:
    c = common or {}
    return {
        "timestamp_ns": c.get("timestamp_ns"),
        "start_ns": c.get("start_ns"),
        "end_ns": c.get("end_ns"),
        "extra_filters": c.get("extra_filters"),
        "extra_stream_filters": c.get("extra_stream_filters"),
    }


def _wire_timestamp(ts) -> str:
    """RFC3339 with trailing Z and trimmed fractional zeros — the
    reference's marshalTimestampRFC3339NanoString (block_result.go:777;
    Go RFC3339Nano). Python's str(datetime) would emit the
    space-separated form no RFC3339 consumer parses (r15 pipe-semantics
    corpus finding)."""
    s = ts.isoformat()  # YYYY-MM-DDTHH:MM:SS[.ffffff]
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    if s.endswith("+00:00"):
        s = s[:-6]
    return s + "Z"


def row_to_wire_dict(row) -> dict:
    """Row -> the NDJSON wire dict every response surface shares (the
    CLI emitter, the HTTP query stream, both tail loops): timestamps
    render RFC3339-Z like the reference, every other non-string
    stringifies, and EMPTY-VALUED fields drop — missing ≡ empty, and
    the reference's row marshaller skips them (rows.go
    MarshalFieldsToJSON; the r15 key-concepts corpus caught our
    wide-frame ''-columns leaking onto the wire). Before consolidation
    the two tail loops rendered None as the literal string 'None' while
    the query surfaces rendered '' (r14 review finding). Storage
    columns stay off the wire: the ``_day`` partition column drops, and
    the ``_other`` spill map expands into the row's own fields (a user
    field spilled there, ``_day`` included, keeps its name)."""
    import datetime as _dt

    d = row.asDict()
    d.pop("_day", None)
    other = d.get("_other")
    if isinstance(other, dict):
        del d["_other"]
        d.update(other)
    for k, v in list(d.items()):
        if v is None or v == "":
            del d[k]
        elif isinstance(v, _dt.datetime):
            d[k] = _wire_timestamp(v)
        elif isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            # Go strconv renders non-finite floats NaN/+Inf/-Inf; Python str()
            # gives nan/inf (r15 stats-semantics corpus: sum over zero
            # numeric values is NaN on the wire)
            d[k] = "NaN" if v != v else ("+Inf" if v > 0 else "-Inf")
        elif not isinstance(v, str):
            d[k] = str(v)
    return d


def _with_stream_col(df: DataFrame, name: str) -> DataFrame:
    """A frame without stream metadata (an empty store after retention
    expired the last day, or a preloaded table ingested without
    ``_stream_fields``) has NO streams: substitute an empty frame that
    CARRIES the column so the stream-metadata endpoints answer the
    reference's empty result instead of UNRESOLVED_COLUMN (the r14
    retention soak hit the expired-store case)."""
    if name in df.columns:
        return df
    return df.where(F.lit(False)).withColumn(name, F.lit(""))


def streams(
    spark: SparkSession, df: DataFrame, query: str = "*", limit: int = 0,
    common: dict | None = None,
) -> DataFrame:
    """Distinct `_stream` values + hit counts (storage_search.go:426)."""
    out = (
        _with_stream_col(_filtered(spark, df, query, common), "_stream")
        .groupBy("_stream")
        .agg(F.count(F.lit(1)).alias("hits"))
        .orderBy(F.desc("hits"), F.asc("_stream"))
    )
    return out.limit(limit) if limit else out


def stream_ids(
    spark: SparkSession, df: DataFrame, query: str = "*", limit: int = 0,
    common: dict | None = None,
) -> DataFrame:
    out = (
        _with_stream_col(_filtered(spark, df, query, common), "_stream_id")
        .groupBy("_stream_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .orderBy(F.desc("hits"), F.asc("_stream_id"))
    )
    return out.limit(limit) if limit else out


_LABEL_RE = r'(\w+)="((?:[^"\\]|\\.)*)"'


def stream_field_names(
    spark: SparkSession, df: DataFrame, query: str = "*",
    common: dict | None = None,
) -> DataFrame:
    """Label names used in `_stream` + row hits (storage_search.go:450)."""
    out = _with_stream_col(_filtered(spark, df, query, common), "_stream")
    names = F.explode(F.regexp_extract_all(F.col("_stream"), F.lit(_LABEL_RE), 1))
    return (
        out.select(names.alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("hits"))
        .orderBy("name")
    )


def stream_field_values(
    spark: SparkSession, df: DataFrame, label: str, query: str = "*", limit: int = 0,
    common: dict | None = None,
) -> DataFrame:
    """Values of one stream label + row hits (storage_search.go:481).
    The label is regex-escaped and boundary-anchored: unescaped it would
    match as a suffix of longer labels ('foo' inside 'barfoo') and regex
    metacharacters would break or subvert the match."""
    import re as _re

    out = _with_stream_col(_filtered(spark, df, query, common), "_stream")
    val = F.regexp_extract(
        F.col("_stream"),
        f'(?:[{{,]){_re.escape(label)}="((?:[^"\\\\]|\\\\.)*)"',
        1,
    )
    res = (
        out.select(val.alias("value"))
        .where(F.col("value") != "")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("hits"))
        .orderBy(F.desc("hits"), F.asc("value"))
    )
    return res.limit(limit) if limit else res


def facets(
    spark: SparkSession,
    df: DataFrame,
    query: str = "*",
    limit: int = 10,
    max_values_per_field: int = 1000,
    max_value_len: int = 128,
    keep_const_fields: bool = False,
    common: dict | None = None,
) -> DataFrame:
    """/select/logsql/facets: top values per every field of the matching
    rows (logsql.go:34 → the facets pipe)."""
    q = _common(query, **_common_kw(common))
    q.pipes = [
        A.PFacets(
            n=limit,
            max_values_per_field=max_values_per_field,
            max_value_len=max_value_len,
            keep_const_fields=keep_const_fields,
        )
    ]
    return plan_query(spark, df, q)


def field_names(
    spark: SparkSession, df: DataFrame, query: str = "*",
    common: dict | None = None,
) -> DataFrame:
    q = _common(query, **_common_kw(common))
    q.pipes = [A.PFieldNames()]
    return plan_query(spark, df, q)


def field_values(
    spark: SparkSession, df: DataFrame, field: str, query: str = "*", limit: int = 0,
    common: dict | None = None,
) -> DataFrame:
    q = _common(query, **_common_kw(common))
    q.pipes = [A.PFieldValues(field_name=field, limit=limit)]
    return plan_query(spark, df, q)


# pipes after which "the last N results by _time" is no longer well-defined
# (logstorage/parser.go CanReturnLastNResults:470-500)
_LAST_N_BLOCKING = (
    A.PBlockStats, A.PBlocksCount, A.PFacets, A.PFieldNames, A.PFieldValues,
    A.PFirst, A.PJoin, A.PLimit, A.POffset, A.PTop, A.PSample,
    A.PSort, A.PStats, A.PUnion, A.PUniq,
)


def _patterns_match_time(patterns: list[str]) -> bool:
    return any(
        p == "_time" or p == "*" or (p.endswith("*") and "_time".startswith(p[:-1]))
        for p in patterns
    )


def can_return_last_n(q: A.Query) -> bool:
    """Whether /query with limit=N means "the NEWEST N rows" for this
    query (the reference's CanReturnLastNResults): true unless a pipe
    reorders/aggregates rows or drops _time."""
    for p in q.pipes:
        if isinstance(p, _LAST_N_BLOCKING):
            return False
        if isinstance(p, A.PFields) and not _patterns_match_time(p.fields):
            return False
        if isinstance(p, A.PDelete) and _patterns_match_time(p.fields):
            return False
    return True


def query_last_n(
    spark: SparkSession,
    df: DataFrame,
    query: str,
    limit: int,
    timestamp_ns: int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    extra_filters=None,
    extra_stream_filters=None,
) -> DataFrame:
    """/query with limit=N for a last-N-capable query: the NEWEST N rows
    in ascending _time order (reference getLastNQueryResults +
    getLastNRows, logsql.go:1005-1080). The reference's adaptive
    time-range halving exists because its engine streams blocks; Spark's
    TakeOrderedAndProject IS the top-N algorithm — orderBy(desc).limit(N)
    never materializes more than N rows per partition."""
    q = _common(query, timestamp_ns, start_ns, end_ns,
                extra_filters, extra_stream_filters)
    out = plan_query(spark, df, q)
    if "_time" not in out.columns:
        raise ValueError(
            f"missing _time column in the result for the query [{query}]"
        )
    return (
        out.orderBy(F.desc("_time")).limit(limit).orderBy(F.asc("_time"))
    )


def query_ndjson(
    spark: SparkSession,
    df: DataFrame,
    query: str,
    timestamp_ns: int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    extra_filters: list[str] | str | None = None,
    extra_stream_filters: list[str] | str | None = None,
) -> Iterator[str]:
    """Run a query and yield NDJSON lines (the /select/logsql/query wire
    format). Streams via toLocalIterator — no full driver materialization."""
    q = apply_common_args(
        _parse(query, timestamp_ns),
        start_ns, end_ns, extra_filters, extra_stream_filters, timestamp_ns,
    )
    out = plan_query(spark, df, q)
    for row in out.toLocalIterator():
        yield json.dumps(row_to_wire_dict(row), separators=(",", ":"))
