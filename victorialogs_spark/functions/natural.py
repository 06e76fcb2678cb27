"""Shared expression helpers: field access, natural (numeric-aware) ordering,
Go-like number formatting.

VictoriaLogs semantics reproduced here:
- every field is logically a string; empty value ≡ missing field
  (lib/logstorage/block.go:69-73);
- comparisons are "natural": numeric when both sides parse as numbers,
  lexicographic otherwise (docs/victorialogs/LogsQL.md:2735-2738,
  lib/logstorage/pipe_sort.go lessString).

All helpers emit pure Column expressions (JVM-side, codegen-friendly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from victorialogs_spark.functions.casts import _try_cast
from pyspark.sql import types as T

# single source of truth for the token charset lives in functions/
# text.py (the phrase matcher); bloom pruning and these helpers must
# tokenize identically or pruning silently loses matches
from victorialogs_spark.functions.text import (  # noqa: F401 (re-export)
    NON_TOKEN_RE as NON_TOKEN,
)

TOKEN_CHARS = "0-9A-Za-z_"  # kept for f-string composition below


def qcol(name: str) -> Column:
    """Column reference that tolerates dots/special chars in field names.
    A backtick inside a quoted identifier is escaped by DOUBLING (the
    Spark rule); deleting it resolved a different column name
    (r14 review finding)."""
    return F.col("`" + name.replace("`", "``") + "`")


def let(c: Column, body) -> Column:
    """Single-evaluation binding: ``body(c)`` with ``c`` evaluated exactly
    once per row. Column references copy their whole expression tree, so
    a helper that mentions its argument k times multiplies the upstream
    expression k-fold — chains of such helpers (math → format → bucket)
    grow multiplicatively and measured 5-10× slower than single
    evaluation. A lambda variable inside a higher-order function is a
    true binding, so ``transform(array(c), body)[0]`` evaluates ``c``
    once no matter how many times ``body`` references it."""
    return F.get(F.transform(F.array(c), body), 0)


def ts_rfc3339_str(c: Column) -> Column:
    """Timestamp column → the reference's RFC3339Nano string form
    (marshalTimestampRFC3339NanoString: fractional seconds with trailing
    zeros TRIMMED, no fraction when integral). The old fixed '.SSS'
    pattern both truncated µs-precision times and printed '.000' on
    integral ones (r15 review finding)."""

    def _of(t: Column) -> Column:
        frac = F.regexp_replace(F.date_format(t, "SSSSSS"), "0+$", "")
        return F.concat(
            F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss"),
            F.when(frac == "", F.lit("")).otherwise(F.concat(F.lit("."), frac)),
            F.lit("Z"),
        )

    return let(c, _of)


def fcol(df: DataFrame, name: str) -> Column:
    """Field access with missing≡empty semantics: unknown fields and NULLs
    read as ''. `_time` reads as its RFC3339 string form when used as a
    string field."""
    if name not in df.columns:
        return F.lit("")
    dt = dict(df.dtypes).get(name)
    c = qcol(name)
    if dt == "timestamp":
        return F.coalesce(ts_rfc3339_str(c), F.lit(""))
    if dt != "string":
        c = c.cast("string")
    return F.coalesce(c, F.lit(""))


# dtypes whose direct cast to double equals the string round-trip bit for
# bit (double round-trips through its shortest repr; ints round to nearest
# double either way). float (32-bit) is excluded: its decimal string
# re-parses through double to a different value than a widening cast.
_DIRECT_DOUBLE_TYPES = ("double", "int", "bigint", "smallint", "tinyint", "long")

# Column-metadata provenance marker: normalize_log_df stamps it on string
# columns it produced by casting a typed numeric column (NULL → '').
# Catalyst propagates attribute metadata through select/filter/rename/copy
# and DROPS it whenever the column is rebuilt from a non-attribute
# expression (union/join rewraps, format/extract/unpack writes), so the
# mark is present only while the value domain is provably
# { '' } ∪ { Spark string cast of a `t` value }.
NUMSRC_KEY = "__vl_numsrc"
_NUMSRC_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "long", "double", "float"}
)


def numeric_provenance(df: DataFrame, name: str) -> bool:
    """True when every value of string column ``name`` provably came from
    Spark's string cast of a typed numeric column ('' for NULL). On such
    columns the natural-order/tryParseNumber machinery collapses to a
    plain try_cast:

    - the duration/size scanners can never fire (their gate needs
      try_cast to fail AND a '-'?[0-9._] start; the only non-casting
      value is '', which fails the start shape), and
    - the LessNatural text key never decides an order: string→double
      parse is injective on this domain (each cast output re-parses to
      exactly its source value widened to double; distinct sources give
      distinct strings give distinct doubles — for int64 beyond 2⁵³,
      equal-double pairs are same-sign equal-length digit strings, where
      raw byte order ≡ the digit-run numeric order), so rows tying on
      (is-numeric, value) carry IDENTICAL strings and the raw string is
      an order-equivalent tiebreak.

    Dropping those trees matters structurally: the scanners/encoder use
    higher-order functions, which are CodegenFallback, and one such
    expression excludes the whole enclosing Project/Filter from
    whole-stage codegen (r15 bench: 8× on p_sort_desc_rank)."""
    if name not in df.columns:
        return False
    fld = df.schema[name]
    if fld.dataType.typeName() != "string":
        return False
    try:
        md = fld.metadata or {}
    except Exception:
        return False
    return md.get(NUMSRC_KEY) in _NUMSRC_TYPES


def num(df: DataFrame, name: str) -> Column:
    """Numeric view of a field: double, NULL when not parseable. Typed
    numeric columns cast directly (identical results), which keeps range
    predicates pushable into the Parquet scan — the string round-trip the
    generic path takes would reduce PushedFilters to nothing."""
    if name in df.columns and dict(df.dtypes).get(name) == "timestamp":
        return (F.unix_micros(qcol(name)) / F.lit(1_000_000.0))
    if name in df.columns and dict(df.dtypes).get(name) in _DIRECT_DOUBLE_TYPES:
        return qcol(name).cast("double")
    return _try_cast(fcol(df, name), "double")


_NAT_SPLIT_RE = "(?<=[^0-9])(?=[0-9])|(?<=[0-9])(?=[^0-9])"
# same maximal digit/non-digit runs as _NAT_SPLIT_RE, but as a CONSUMING
# alternation for regexp_extract_all: zero-width lookarounds evaluate at
# every position and measured 2.6× slower than consuming matches
# (r15 bench attribution); only difference is '' → [] instead of ['']
# (callers handle '' before splitting)
_NAT_RUNS_RE = "[0-9]+|[^0-9]+"


def _esc_ctl(p: Column) -> Column:
    """Escape bytes ≤ \\x02 (vanishingly rare in log text) with a \\x02
    prefix. With every control escaped, a single per-RUN text marker
    keeps the encoding order-correct and injective: at any comparison
    position a text byte is either ≥ \\x03 (raw) or the \\x02 escape
    marker — both above the \\x01 digit-run marker, so a digit still
    beats any non-digit; escaped pairs order \\x02\\x00 < \\x02\\x01 <
    \\x02\\x02 among themselves and below every raw byte, matching raw
    byte order. Literal replaces only — the per-char '(?s)(.)' regex
    this replaces was ~the whole sort-key cost (r15 bench: 8× on
    p_sort_desc_rank)."""
    return F.replace(
        F.replace(
            F.replace(p, F.lit("\x02"), F.lit("\x02\x02")),
            F.lit("\x01"),
            F.lit("\x02\x01"),
        ),
        F.lit("\x00"),
        F.lit("\x02\x00"),
    )


def natural_text_key(c: Column) -> Column:
    """Byte-orderable key whose comparison replicates
    stringsutil.LessNatural (the lessString tail for non-numeric pairs):
    digit runs compare by NUMERIC value ('host2' < 'host10'), a digit
    beats any non-digit at the same position, equal values with fewer
    leading zeros win ('1' < '01'), and '' sorts below everything.

    Encoding per maximal run: digits → '\\x01' + 2-digit length of the
    zero-stripped value + the stripped digits + 4-digit leading-zero
    count; text → '\\x02' + the run with controls ≤ \\x02 escaped
    (_esc_ctl keeps digit-beats-text at every boundary; utf8 byte order
    within text matches Go's). Runs past 19 digits keep raw
    lexicographic digit order (documented approximation of the
    reference's whole-string u64-overflow fallback, which is
    pair-dependent and not encodable). Digitless values (the common
    case for text fields) skip the run split entirely — one rlike +
    three literal replaces per row."""

    def d_enc(p: Column) -> Column:
        # encoding of one all-digit run (callers guarantee ^[0-9]+$)
        stripped = F.ltrim(p, F.lit("0"))
        d = F.when(stripped == "", F.lit("0")).otherwise(stripped)
        return F.when(
            F.length(p) <= 19,
            F.concat(
                F.lit("\x01"),
                F.lpad(F.length(d).cast("string"), 2, "0"),
                d,
                F.lpad((F.length(p) - F.length(d)).cast("string"), 4, "0"),
            ),
        ).otherwise(F.concat(F.lit("\x01"), F.lit("99"), p))

    def enc(p: Column) -> Column:
        first = F.ascii(p)
        digits = (first >= 48) & (first <= 57)
        return F.when(digits, d_enc(p)).otherwise(
            F.concat(F.lit("\x02"), _esc_ctl(p))
        )

    # number-shaped fast paths: '-'?digits and '-'?digits.digits are the
    # dominant shapes in numeric string columns (ids, metric values) and
    # their run structure is static — encode them with plain string
    # functions so the general path (regex run-extraction + a per-run
    # lambda) never runs for them. (A static 16-run unroll of the
    # general path was tried and REJECTED: the single expression blows
    # janino's 64 KB method limit and costs ~0.8 s of py4j tree build
    # per query — r15 bench.)
    body = F.when(c.startswith("-"), F.substr(c, F.lit(2))).otherwise(c)
    sign = F.when(c.startswith("-"), F.lit("\x02-")).otherwise(F.lit(""))
    int_part = F.substring_index(body, ".", 1)
    frac_part = F.substring_index(body, ".", -1)
    return F.when(c.isNull() | (c == ""), F.lit("")).otherwise(
        F.when(
            ~c.rlike("[0-9]"), F.concat(F.lit("\x02"), _esc_ctl(c))
        )
        .when(body.rlike("^[0-9]+$"), F.concat(sign, d_enc(body)))
        .when(
            body.rlike(r"^[0-9]+\.[0-9]+$"),
            F.concat(sign, d_enc(int_part), F.lit("\x02."), d_enc(frac_part)),
        )
        .otherwise(
            F.concat_ws(
                "",
                F.transform(
                    F.regexp_extract_all(c, F.lit(_NAT_RUNS_RE), 0), enc
                ),
            )
        )
    )


def natural_num(df: DataFrame, name: str) -> Column:
    """Numeric value for ORDERING, mirroring lessString's tryParseNumber
    space (block_result.go:2710): plain float, then duration literals as
    NANOSECONDS ('5s' < '1m' numerically), then byte sizes as bytes.
    NULL when none parse (the value compares as text)."""
    n = num(df, name)
    dt = dict(df.dtypes).get(name)
    if name in df.columns and (dt == "timestamp" or dt in _DIRECT_DOUBLE_TYPES):
        return n  # typed columns never hold duration/size strings
    if numeric_provenance(df, name):
        # provenance-marked stringified numerics: the scanners can never
        # fire (see numeric_provenance) — returning the plain numeric
        # view keeps the expression HOF-free, so the enclosing
        # Project/Filter stays in whole-stage codegen
        return n
    s = fcol(df, name)
    # Gate the compound scanners on their INPUT, not around their
    # output: codegen subexpression elimination evaluates conditional
    # branches EAGERLY, so `when(gate, duration_ns_col(s))` still pays
    # the full parse per row (measured: a bare-integer value fully
    # parses as a bytes literal — 3.4× on s_histogram). With a NULL
    # argument every node in the scanners null-propagates for ~free,
    # and the result is unchanged: rows where n is non-NULL never use
    # the scanner outputs (coalesce), rows failing the '-'?[0-9._]
    # start can't be duration/size literals.
    gated = F.when(n.isNull() & s.rlike("^-?[0-9._]"), s)
    return F.coalesce(
        n,
        duration_ns_col(gated).cast("double"),
        bytes_col(gated).cast("double"),
    )


def natural_keys(df: DataFrame, name: str) -> list[Column]:
    """Sort keys implementing natural order: numeric values (incl.
    duration/size literals, tryParseNumber space) sort before
    non-numeric, numerically; non-numeric pairs compare like lessString's
    LessNatural tail (digit runs numeric — natural_text_key).
    Divergence note vs reference: VictoriaLogs compares pairwise
    (lessString); a total order needs a rule for mixed groups — we place all
    numeric values first, which matches pairwise behavior on homogeneous
    data."""
    if name in df.columns and dict(df.dtypes).get(name) == "timestamp":
        return [qcol(name)]
    n = natural_num(df, name)
    return [
        F.when(n.isNotNull(), F.lit(0)).otherwise(F.lit(1)),
        F.coalesce(n, F.lit(0.0)),
        natural_tiebreak(df, name),
    ]


def natural_tiebreak(df: DataFrame, name: str) -> Column:
    """The third natural-order key: LessNatural over the string value.
    Provenance-marked stringified numerics use the RAW string behind a
    one-byte digit-start discriminator — on the marked domain the only
    pairs that reach this key with DISTINCT strings are '-0.0' vs '0.0'
    (Spark's double ordering normalizes ±0.0 equal; parse is injective
    otherwise — see numeric_provenance) and equal-double int64 pairs
    beyond 2⁵³ (same sign, same digit count, raw byte order ≡ numeric
    run order). The \\x01/\\x02 prefix reproduces the run encoder's rule
    for the former (digit-start sorts before sign-start: d_enc emits
    \\x01, a text run \\x02), so order matches natural_text_key on every
    reachable pair while staying free of the run-encoder's higher-order
    function (whole-stage codegen).

    TYPED numeric columns (_DIRECT_DOUBLE_TYPES) share the proof
    verbatim: fcol's domain there is exactly the marked one —
    { '' (NULL) } ∪ { Spark string cast of the typed value } — the
    numeric key IS the column (no parse), and the two reachable
    distinct-string tie classes are the same (±0.0, int64 > 2⁵³;
    int64 casts are ≤ 19 digits and double casts switch to E-notation
    well before 20 digits, so the encoder's >19-digit fallback never
    splits a tie differently). Without this, a typed sort/min/max
    carried the full run encoder over cast(col as string) per
    comparison — r15 bench: layout p_sort_desc_rank ~2.3×,
    tpch_top_orders ~1.4×."""
    s = fcol(df, name)
    dt = dict(df.dtypes).get(name)
    if numeric_provenance(df, name) or dt in _DIRECT_DOUBLE_TYPES:
        first = F.ascii(s)
        digit = (first >= 48) & (first <= 57)
        return F.when(digit, F.concat(F.lit("\x01"), s)).otherwise(
            F.concat(F.lit("\x02"), s)
        )
    return natural_text_key(s)


def format_number(c: Column) -> Column:
    """Format a double like Go's strconv.FormatFloat(f,'f',-1,64)
    (values_encoder.go marshalFloat64String): integral values get no
    decimal point ('18' not '18.0'), and non-integral values render in
    PLAIN decimal — Spark's string cast switches to E-notation at 1e7
    and 1e-3 ('1.23456785E7'), which no Go surface ever emits (r15
    marshal-float corpus). The decimal hop goes through Java's
    BigDecimal.valueOf (shortest double repr), so digits match the
    'f'-form exactly: |v| < 1 takes decimal(38,37), whose 37 fraction
    digits hold every digit down to 1e-15 (decimal(38,18) rounded
    0.0004120370370370361 to 0.000412037037037036), larger values take
    decimal(38,18). |v| ≥ 1e18 or < 1e-15 falls back to the raw cast
    (documented divergence: Go prints those in full). try_cast: a plain
    cast of NaN or an out-of-long-range double THROWS under default
    ANSI mode, and this expression runs on arbitrary user math."""
    as_long = _try_cast(c, "long")
    # each branch casts to string itself: a CASE over the two decimal
    # types would widen both to one type and round the small branch again
    dec = F.when(
        F.abs(c) < F.lit(1.0), c.cast("decimal(38,37)").cast("string")
    ).otherwise(c.cast("decimal(38,18)").cast("string"))
    plain = F.regexp_replace(
        F.regexp_replace(dec, "0+$", ""),
        r"\.$",
        "",
    )
    return F.when(c.isNull(), F.lit("")).otherwise(
        F.when(
            as_long.isNotNull()
            & (c == as_long.cast("double"))
            & (F.abs(c) < F.lit(1e15)),
            as_long.cast("string"),
        )
        .when(
            ~F.isnan(c)
            & (F.abs(c) < F.lit(1e18))
            & (F.abs(c) >= F.lit(1e-15)),
            plain,
        )
        .otherwise(c.cast("string"))
    )


def ipv4_num(c: Column) -> Column:
    """Dotted-quad string → uint32 as long; NULL when not an IPv4.
    HOF-free (substring_index per octet): forall/aggregate are
    CodegenFallback and excluded the enclosing Project/Filter from
    whole-stage codegen; the repeated mentions of ``c`` dedup via
    codegen subexpression elimination."""
    is_ip = c.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    o1 = _try_cast(F.substring_index(c, ".", 1), "long")
    o2 = _try_cast(
        F.substring_index(F.substring_index(c, ".", 2), ".", -1), "long"
    )
    o3 = _try_cast(
        F.substring_index(F.substring_index(c, ".", 3), ".", -1), "long"
    )
    o4 = _try_cast(F.substring_index(c, ".", -1), "long")
    ok = (o1 <= 255) & (o2 <= 255) & (o3 <= 255) & (o4 <= 255)
    val = ((o1 * 256 + o2) * 256 + o3) * 256 + o4
    return F.when(is_ip & ok, val)


def ipv4_str(c: Column) -> Column:
    """uint32 (long) → dotted-quad string (input let-bound, 4 refs)."""
    return let(
        c,
        lambda n: F.concat_ws(
            ".",
            ((n / 16777216).cast("long") % 256).cast("string"),
            ((n / 65536).cast("long") % 256).cast("string"),
            ((n / 256).cast("long") % 256).cast("string"),
            (n % 256).cast("string"),
        ),
    )


def unsigned_str(c: Column) -> Column:
    """Signed 64-bit → unsigned decimal string (for hash outputs)."""
    return F.conv(F.hex(c), 16, 10)


_NS = {"w": 7 * 86400 * 10**9, "d": 86400 * 10**9, "h": 3600 * 10**9,
       "m": 60 * 10**9, "s": 10**9, "ms": 10**6}


def duration_string(n: Column) -> Column:
    """int64 nanoseconds → the reference's compound duration string
    (values_encoder.go marshalDurationString): 1w2d3h4m then float
    seconds when the total is >= 1s, else ms/µs/ns pieces."""
    # modulo arithmetic, NOT chained remainders: a chained tree duplicates
    # the whole prefix expression at every level and blows past janino's
    # 64KB method limit (killing whole-stage codegen); with `%` each piece
    # references `a` exactly once, so the tree stays linear. On top of
    # that, let-bind the input: `a` is still mentioned ~12 times below,
    # each of which would otherwise copy the caller's whole expression
    return let(n, _duration_string_of)


def _duration_string_of(n: Column) -> Column:
    a = F.abs(n)
    W, D, H, M, S, MS = (
        _NS["w"], _NS["d"], _NS["h"], _NS["m"], _NS["s"], _NS["ms"],
    )
    # exact: a may exceed 2^53 ns (~104 days), where double division
    # mis-rounds near whole-week multiples while the remainder chain
    # below stays exact-long — printing one extra week (r14 review
    # finding). (a - a%W) is an exact multiple of W; its double quotient
    # is within ~1e-9 of the true integer, which round() pins exactly.
    weeks = F.round((a - a % F.lit(W)) / F.lit(W)).cast("long")
    days = ((a % F.lit(W)) / F.lit(D)).cast("long")
    hours = ((a % F.lit(D)) / F.lit(H)).cast("long")
    minutes = ((a % F.lit(H)) / F.lit(M)).cast("long")
    sub_min = a % F.lit(M)  # remainder below one minute

    def piece(v, suffix):
        return F.when(v > 0, F.concat(v.cast("string"), F.lit(suffix))).otherwise(F.lit(""))

    secs_str = F.when(
        (sub_min >= F.lit(S)) & (a >= F.lit(S)),
        F.concat(format_number(sub_min / F.lit(1e9)), F.lit("s")),
    ).otherwise(F.lit(""))
    # sub-second pieces only when the float-seconds branch didn't fire
    no_secs = sub_min < F.lit(S)
    msecs = F.when(no_secs, ((a % F.lit(S)) / F.lit(MS)).cast("long")).otherwise(F.lit(0))
    usecs = F.when(no_secs, ((a % F.lit(MS)) / F.lit(1000)).cast("long")).otherwise(F.lit(0))
    nsecs = F.when(no_secs, (a % F.lit(1000)).cast("long")).otherwise(F.lit(0))
    out = F.concat(
        F.when(n < 0, F.lit("-")).otherwise(F.lit("")),
        piece(weeks, "w"), piece(days, "d"), piece(hours, "h"),
        piece(minutes, "m"), secs_str,
        piece(msecs, "ms"), piece(usecs, "µs"), piece(nsecs, "ns"),
    )
    return F.when(n == 0, F.lit("0")).otherwise(out)


# tryParseDuration / tryParseBytes as Column expressions (case-SENSITIVE
# units, '_' digit separators, per-part int64 truncation with overflow
# clamping to 2⁶³−1 — values_encoder.go; pinned by the r15 values corpus
# on the python twins in logsql/lexer.py)
_I64_MAX_NS = (1 << 63) - 1
_GO_DUR_UNITS = [
    ("µs", 1e3), ("ms", 1e6), ("ns", 1.0),
    ("y", 365 * 24 * 3600 * 1e9), ("w", 7 * 24 * 3600 * 1e9),
    ("d", 24 * 3600 * 1e9), ("h", 3600 * 1e9), ("m", 60 * 1e9), ("s", 1e9),
]
_GO_DUR_TOKEN_RE = r"(?:[0-9._]+(?:µs|ms|ns|y|w|d|h|m|s))"
_GO_BYTE_UNITS = [
    ("KiB", float(1 << 10)), ("MiB", float(1 << 20)),
    ("GiB", float(1 << 30)), ("TiB", float(1 << 40)),
    ("Ki", float(1 << 10)), ("Mi", float(1 << 20)),
    ("Gi", float(1 << 30)), ("Ti", float(1 << 40)),
    ("KB", 1e3), ("MB", 1e6), ("GB", 1e9), ("TB", 1e12),
    ("B", 1.0), ("K", 1e3), ("M", 1e6), ("G", 1e9), ("T", 1e12),
]
_GO_BYTE_TOKEN_RE = (
    r"(?:[0-9._]+(?:KiB|MiB|GiB|TiB|Ki|Mi|Gi|Ti|KB|MB|GB|TB|B|K|M|G|T)?)"
)


def _go_float_prefix_ok(v: Column) -> Column:
    """tryParseFloat64 validity of a scanned [0-9._]+ run: one dot, not
    at either edge, no leading zero in the integer part (a bare '_'
    parses as 0 — tryParseUint64 just skips separators)."""
    return (
        ~v.rlike(r"\..*\.")
        & ~v.startswith(".")
        & ~v.endswith(".")
        & ~v.rlike(r"^0[0-9_]")
    )


def _go_float_prefix_val(v: Column) -> Column:
    stripped = F.regexp_replace(v, "_", "")
    return F.when(stripped == "", F.lit(0.0)).otherwise(
        _try_cast(stripped, "double")
    )


def _go_compound_col(s: Column, token_re: str, units, bare_int: bool) -> Column:
    """Shared tryParseDuration/tryParseBytes scanner: the string must be
    exactly a run of <number><unit> tokens (optional unit with
    ``bare_int``, where a bare FRACTIONAL number rejects); each part
    truncates to int64 and accumulates with the reference's
    overflow-clamp-to-max. NULL when unparseable.

    Uses higher-order functions (forall/transform/aggregate) over the
    token array, which are CodegenFallback — their presence excludes the
    enclosing Project/Filter from whole-stage codegen, so callers on hot
    paths must pass a PRE-GATED input (NULL unless the value can be a
    literal: natural_num/_math_num do) so the eager interpreted
    evaluation null-propagates for ~free. A static token unroll was
    tried and REJECTED: with enough tokens for the reference's 7-piece
    durations the generated code exceeds janino's 64 KB method limit
    (whole stage falls back to interpreted + a failed compile per plan)
    and the Column tree costs seconds of py4j build time per query
    (r15 bench)."""
    body = F.regexp_replace(s, r"^-", "")
    toks = F.regexp_extract_all(body, F.lit(token_re), 0)

    def _val(t):
        return F.regexp_extract(t, r"^([0-9._]+)", 1)

    def _unit(t):
        return F.regexp_extract(t, r"([^0-9._]+)$", 1)

    def tok_ok(t):
        ok = _go_float_prefix_ok(_val(t))
        if bare_int:
            # a float without a suffix is denied (tryParseBytes)
            ok = ok & ((_unit(t) != "") | ~_val(t).contains("."))
        return ok

    valid = (
        (F.length(body) > 0)
        & (F.array_join(toks, "") == body)
        & F.forall(toks, tok_ok)
    )

    mult_map = F.create_map(
        *[F.lit(x) for u, m in units for x in (u, float(m))]
    )

    def tok_ns(t):
        dval = _go_float_prefix_val(_val(t))
        # constant-folded map lookup instead of a 9/17-deep when-chain
        mult = F.try_element_at(mult_map, _unit(t))
        if bare_int:
            mult = F.coalesce(mult, F.when(_unit(t) == "", F.lit(1.0)))
        # int64(f): out-of-range → clamped (addInt64NoOverflow feeds max)
        return F.coalesce(_try_cast(dval * mult, "long"), F.lit(_I64_MAX_NS))

    total = F.aggregate(
        F.transform(toks, tok_ns),
        F.lit(0).cast("long"),
        # addInt64NoOverflow: exact-long clamp, never overflows
        lambda acc, x: F.least(acc, F.lit(_I64_MAX_NS) - x) + x,
    )
    signed = F.when(s.startswith("-"), -total).otherwise(total)
    return F.when(valid, signed)


def duration_ns_col(c: Column) -> Column:
    """tryParseDuration as a Column: compound duration → int64 ns, NULL
    when not a duration."""
    return _go_compound_col(c, _GO_DUR_TOKEN_RE, _GO_DUR_UNITS, False)


def bytes_col(c: Column) -> Column:
    """tryParseBytes as a Column: compound size literal (bare integers
    allowed) → int64 bytes, NULL when not a size."""
    return _go_compound_col(c, _GO_BYTE_TOKEN_RE, _GO_BYTE_UNITS, True)


def duration_seconds(c: Column) -> Column:
    """Compound duration string ('5m30s', '1.5h') → seconds as a Go-style
    number string; non-durations pass through unchanged (pipe_format.go
    duration_seconds → tryParseDuration → marshalFloat64String)."""
    return let(
        c,
        lambda s: let(
            duration_ns_col(s),
            lambda ns: F.when(
                ns.isNotNull(),
                format_number(ns.cast("double") / F.lit(1e9)),
            ).otherwise(s),
        ),
    )


def unix_auto_timestamp(c: Column) -> Column:
    """Numeric unix timestamp string → timestamp with the unit (s/ms/µs/ns)
    AUTO-DETECTED at the reference's int32-count magnitude boundaries
    (timeutil.TryParseUnixTimestamp; the same splitter the format pipe's
    time: converter uses). A plain seconds interpretation reads
    '1718753840000' (millis) as year ~56000 — the r15 ingest-timestamp
    corpus caught it. Fractional and negative stamps parse; NULL when the
    value is not numeric."""
    from victorialogs_spark.functions.casts import _try_cast

    d = _try_cast(c, "decimal(29,9)")
    unit = (
        F.when(F.abs(d) < F.lit(1 << 31), F.lit(10**9))
        .when(F.abs(d) < F.lit((1 << 31) * 1000), F.lit(10**6))
        .when(F.abs(d) < F.lit((1 << 31) * 10**6), F.lit(10**3))
        .otherwise(F.lit(1))
    )

    def _to_ts(ns: Column) -> Column:
        # ns → µs flooring toward -inf so pre-epoch stamps keep their µs
        us = ((ns - F.pmod(ns, F.lit(1000))).cast("decimal(38,0)") / F.lit(1000)).cast("long")
        return F.timestamp_micros(us)

    ns = (d * unit.cast("decimal(20,0)")).cast("long")
    return F.when(d.isNotNull(), let(ns, _to_ts))
