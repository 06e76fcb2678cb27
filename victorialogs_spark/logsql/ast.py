"""LogsQL AST (intermediate representation).

Mirrors the reference IR shape — ``Query{options, filter-tree, pipe-list}``
(/root/reference/lib/logstorage/parser.go:250-259) — as plain dataclasses.
The planner (victorialogs_spark.planner) maps this IR onto DataFrame ops.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional


# ---------------------------------------------------------------------------
# Filters (reference: lib/logstorage/filter_*.go)
# ---------------------------------------------------------------------------

class Filter:
    pass


@dataclass
class FNoop(Filter):
    """Match-all ``*`` (filter_noop.go:8)."""


@dataclass
class FAnd(Filter):
    children: list[Filter]


@dataclass
class FOr(Filter):
    children: list[Filter]


@dataclass
class FNot(Filter):
    child: Filter


@dataclass
class FPhrase(Filter):
    """Word / phrase filter (filter_phrase.go:25). ``phrase`` may hold one
    token (word filter) or several (consecutive-token phrase)."""
    field: str
    phrase: str
    case_insensitive: bool = False


@dataclass
class FPrefix(Filter):
    """``foo*`` (filter_prefix.go:20); empty prefix == "field exists"."""
    field: str
    prefix: str
    case_insensitive: bool = False


@dataclass
class FExact(Filter):
    """``exact("v")`` / ``f:=v`` (filter_exact.go:17)."""
    field: str
    value: str


@dataclass
class FExactPrefix(Filter):
    field: str
    prefix: str


@dataclass
class FIn(Filter):
    """``in(v1, ..., vN)`` with literal values (filter_in.go:14)."""
    field: str
    values: list[str]


@dataclass
class FInSubquery(Filter):
    """``in(query)`` — subquery returns one column of values
    (storage_search.go:582)."""
    field: str
    query: "Query"


@dataclass
class FFlagCol(Filter):
    """Planner-internal: membership precomputed as a boolean join-flag
    column (scale-safe form of a nested in(subquery); never produced by
    the parser)."""
    name: str


@dataclass
class FContains(Filter):
    """contains_all / contains_any (filter_contains_all.go:15)."""
    field: str
    values: list[str]
    require_all: bool  # True → contains_all
    subquery: Optional["Query"] = None


@dataclass
class FSeq(Filter):
    """``seq("a","b")`` — substrings appear in order (filter_sequence.go:16)."""
    field: str
    values: list[str]


@dataclass
class FRegexp(Filter):
    field: str
    pattern: str


@dataclass
class FRange(Filter):
    """Numeric range (filter_range.go:14). Bounds are floats; inclusivity per
    side. Non-numeric values never match."""
    field: str
    lo: float
    hi: float
    include_lo: bool = True
    include_hi: bool = True


@dataclass
class FIPv4Range(Filter):
    field: str
    lo: int  # uint32
    hi: int


@dataclass
class FStringRange(Filter):
    """``string_range(lo, hi)`` — lexicographic lo <= v < hi
    (filter_string_range.go:17)."""
    field: str
    lo: str
    hi: str


@dataclass
class FLenRange(Filter):
    """Value byte-length range (filter_len_range.go:14)."""
    field: str
    lo: int
    hi: int


@dataclass
class FValueType(Filter):
    """Storage introspection filter — emulated with a type-sniff regex."""
    field: str
    value_type: str


@dataclass
class FEqField(Filter):
    field: str
    other: str


@dataclass
class FCmpField(Filter):
    """le_field / lt_field: natural (numeric-aware) comparison
    (filter_le_field.go:16)."""
    field: str
    other: str
    allow_eq: bool  # True → le_field


@dataclass
class FTime(Filter):
    """Resolved time range in UNIX nanoseconds, inclusive both ends
    (filter_time.go:12)."""
    lo_ns: int
    hi_ns: int


@dataclass
class FDayRange(Filter):
    """_time:day_range[start, end] — times-of-day as minute offsets
    (filter_day_range.go:12)."""
    lo_minute: int
    hi_minute: int
    include_lo: bool
    include_hi: bool
    offset_ns: int = 0


@dataclass
class FWeekRange(Filter):
    """_time:week_range[Mon, Fri] — day-of-week 0=Sunday..6=Saturday
    (filter_week_range.go:14)."""
    lo_day: int
    hi_day: int
    include_lo: bool
    include_hi: bool
    offset_ns: int = 0


@dataclass
class StreamLabelMatcher:
    label: str
    op: str  # '=', '!=', '=~', '!~'
    value: str


@dataclass
class FStream(Filter):
    """``{a="b", c=~"d" or e!="f"}`` — OR of AND-ed label matchers
    (filter_stream.go:12)."""
    or_terms: list[list[StreamLabelMatcher]]


@dataclass
class FStreamId(Filter):
    ids: list[str]


# ---------------------------------------------------------------------------
# Stats functions (reference: lib/logstorage/stats_*.go)
# ---------------------------------------------------------------------------

@dataclass
class StatsFunc:
    name: str                    # canonical function name, e.g. 'count'
    fields: list[str]            # field args ('*' → all)
    result: str                  # output column name
    extra: dict = field(default_factory=dict)   # e.g. {'phi': 0.95, 'limit': N}
    cond: Optional[Filter] = None               # per-func if (...) filter


@dataclass
class ByField:
    """Group-by key, optionally bucketed (pipe_stats.go:1495-1507).

    ``bucket_size_str`` / ``bucket_offset_str`` keep the SOURCE spelling
    (byStatsField.String prints them verbatim); 'month'/'year' carry no
    numeric size — they bucket by UTC calendar boundaries
    (block_result.go truncateTimestampToMonth/Year), and the literal
    word 'week' is Monday-aligned (truncateTimestamp adds 4d of offset)."""
    name: str
    bucket_size: Optional[float] = None   # seconds for _time, numeric otherwise
    bucket_offset: float = 0.0
    ipv4_mask: Optional[int] = None       # /24 style
    bucket_size_str: Optional[str] = None
    bucket_offset_str: Optional[str] = None


# ---------------------------------------------------------------------------
# Pipes (reference: lib/logstorage/pipe_*.go)
# ---------------------------------------------------------------------------

class Pipe:
    pass


@dataclass
class PFields(Pipe):
    fields: list[str]   # may contain 'pref*' wildcards


@dataclass
class PDelete(Pipe):
    fields: list[str]


@dataclass
class PCopy(Pipe):
    pairs: list[tuple[str, str]]  # (src, dst)


@dataclass
class PRename(Pipe):
    pairs: list[tuple[str, str]]


@dataclass
class PFilter(Pipe):
    filter: Filter


@dataclass
class PLimit(Pipe):
    n: int


@dataclass
class POffset(Pipe):
    n: int


@dataclass
class SortField:
    name: str
    desc: bool = False


@dataclass
class PSort(Pipe):
    fields: list[SortField]          # empty → sort by all fields (we: by _time)
    desc: bool = False               # global desc flag
    limit: Optional[int] = None
    offset: int = 0
    partition_by: list[str] = field(default_factory=list)
    rank_name: Optional[str] = None


@dataclass
class PFirst(Pipe):
    n: int
    fields: list[SortField]
    desc: bool = False   # True → 'last'
    rank_name: Optional[str] = None
    partition_by: list[str] = field(default_factory=list)


@dataclass
class PStats(Pipe):
    by: list[ByField]
    funcs: list[StatsFunc]
    # "default" | "remote" — the reference's cluster path marks the
    # storage-node half of a split aggregation `stats_remote`
    # (pipe_stats.go:1258-1260; modes at pipe_stats.go:127-133). Spark's
    # shuffle IS the remote/local split (partial + final hash aggregate),
    # so both modes plan identically; the flag is kept for round-tripping.
    mode: str = "default"


@dataclass
class PMath(Pipe):
    exprs: list[tuple["MathExpr", str]]   # (expr, result_name)


# math expression tree (pipe_math.go)
class MathExpr:
    pass


@dataclass
class MNum(MathExpr):
    value: float


@dataclass
class MField(MathExpr):
    name: str


@dataclass
class MUnary(MathExpr):
    op: str
    arg: MathExpr


@dataclass
class MBinary(MathExpr):
    op: str
    left: MathExpr
    right: MathExpr


@dataclass
class MFunc(MathExpr):
    name: str
    args: list[MathExpr]


@dataclass
class PExtract(Pipe):
    pattern: str                      # 'txt<f1>txt<f2>' pattern
    from_field: str = "_msg"
    keep_original_fields: bool = False
    skip_empty_results: bool = False
    cond: Optional[Filter] = None


@dataclass
class PExtractRegexp(Pipe):
    pattern: str
    from_field: str = "_msg"
    keep_original_fields: bool = False
    skip_empty_results: bool = False
    cond: Optional[Filter] = None


@dataclass
class PReplace(Pipe):
    old: str
    new: str
    field_name: str = "_msg"
    limit: int = 0
    regex: bool = False
    cond: Optional[Filter] = None


@dataclass
class PFormat(Pipe):
    pattern: str
    result: str = "_msg"
    keep_original_fields: bool = False
    skip_empty_results: bool = False
    cond: Optional[Filter] = None


@dataclass
class PUnpackJson(Pipe):
    from_field: str = "_msg"
    fields: list[str] = field(default_factory=list)
    result_prefix: str = ""
    keep_original_fields: bool = False
    skip_empty_results: bool = False
    cond: Optional[Filter] = None


@dataclass
class PUnpackLogfmt(Pipe):
    from_field: str = "_msg"
    fields: list[str] = field(default_factory=list)
    result_prefix: str = ""
    keep_original_fields: bool = False
    skip_empty_results: bool = False
    cond: Optional[Filter] = None


@dataclass
class PUnpackSyslog(Pipe):
    from_field: str = "_msg"
    result_prefix: str = ""
    offset_ns: int = 0
    keep_original_fields: bool = False
    cond: Optional[Filter] = None
    # the syntax has neither; fixed so every unpack pipe carries the same
    # extraction options
    fields: list[str] = field(default_factory=list)
    skip_empty_results: bool = False


@dataclass
class PUnpackWords(Pipe):
    src: str
    dst: str
    limit: int = 0
    drop_duplicates: bool = False


@dataclass
class PUnroll(Pipe):
    fields: list[str]
    cond: Optional[Filter] = None


@dataclass
class PPackJson(Pipe):
    result: str = "_msg"
    fields: list[str] = field(default_factory=list)


@dataclass
class PPackLogfmt(Pipe):
    result: str = "_msg"
    fields: list[str] = field(default_factory=list)


@dataclass
class PJoin(Pipe):
    by: list[str]
    query: "Query"
    inner: bool = False
    prefix: str = ""


@dataclass
class PUnion(Pipe):
    query: "Query"


@dataclass
class PUniq(Pipe):
    by: list[str]
    hits_field: Optional[str] = None
    limit: int = 0


@dataclass
class PTop(Pipe):
    n: int
    by: list[str]
    hits_field: str = "hits"
    rank_name: Optional[str] = None


@dataclass
class PFacets(Pipe):
    n: int = 10
    max_values_per_field: int = 1000
    max_value_len: int = 128
    keep_const_fields: bool = False


@dataclass
class PFieldNames(Pipe):
    result: str = "name"


@dataclass
class PFieldValues(Pipe):
    field_name: str
    limit: int = 0


@dataclass
class PLen(Pipe):
    field_name: str
    result: str


@dataclass
class PJsonArrayLen(Pipe):
    field_name: str
    result: str


@dataclass
class PHash(Pipe):
    field_name: str
    result: str


@dataclass
class PSample(Pipe):
    n: int


@dataclass
class PCollapseNums(Pipe):
    field_name: str = "_msg"
    prettify: bool = False
    cond: Optional[Filter] = None


@dataclass
class PDecolorize(Pipe):
    field_name: str = "_msg"


@dataclass
class PDropEmptyFields(Pipe):
    pass


@dataclass
class PStreamContext(Pipe):
    before: int = 0
    after: int = 0
    time_window_ns: int = 3600 * 10**9


@dataclass
class PBlocksCount(Pipe):
    result: str = "blocks_count"


@dataclass
class PBlockStats(Pipe):
    pass


# ---------------------------------------------------------------------------
# Query
# ---------------------------------------------------------------------------

@dataclass
class Query:
    filter: Filter
    pipes: list[Pipe]
    options: dict = field(default_factory=dict)
    # resolved global time range (ns), populated by the parser from the
    # filter tree; used for partition pruning and rate() step injection
    # (parser.go:504-525, parser.go:1214)
    time_range: Optional[tuple[int, int]] = None

    def to_logsql(self) -> str:
        """Print this query back to LogsQL (the reference's Query.String()
        analogue; reparses to an identical AST — see logsql/printer.py)."""
        from victorialogs_spark.logsql.printer import print_query

        return print_query(self)
