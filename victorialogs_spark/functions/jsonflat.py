"""Reference-exact JSON flattening: the engine's one JSON → fields
flattener, for ingest (jsonline, Elasticsearch bulk, Loki
``parse_message``) and the nested ``unpack_json`` path.

Implements json_parser.go parseLogMessage/appendLogFields semantics:

- nested OBJECTS flatten recursively with dot-joined keys
  ({"y":{"z":{"a":"b"}}} -> y.z.a = "b");
- STRINGS decode their escapes;
- ARRAYS / numbers / true / false keep their source representation:
  numbers as the RAW token (fastjson TypeNumber marshals v.s verbatim —
  "1.20" stays "1.20", NaN stays NaN), arrays re-rendered COMPACTLY
  (whitespace dropped, strings re-escaped, duplicate object members
  kept) exactly like fastjson MarshalTo;
- NULL values emit no field (appendLogFields "Skip nulls");
- an empty TOP-LEVEL key names the field "_msg" (appendLogField);
- duplicate flattened names: last one wins (fields applied in order);
- with ``max_name_len`` (ingest's 128, ParseLogMessage), an object whose
  prefix plus LONGEST key would exceed it stays whole, as compact JSON
  under the prefix ('_msg' at top level) — the reference marshals the
  subtree rather than truncating names (json_parser.go:99-113); without
  it (the unpack pipe's MaxInt, pipe_unpack_json.go:92) names are
  unbounded;
- a non-object top level or any syntax error means the row is left
  unchanged (parseLogMessage returns the error) — flatten returns None.

The parse is CPython's C JSON scanner with hooks that keep each number
and NaN/±Infinity token as its source text and each object as its
ordered member pairs. It is strict JSON: spellings fastjson also takes
(``nan``, ``inf``, ``.5``, ``1.``) are syntax errors here.

``unpack_json`` calls it through an Arrow-batched pandas UDF, but ONLY
for inputs where a plan-time probe finds object-valued keys — flat JSON
(the overwhelming majority of log data) stays on the JVM from_json fast
path.
"""

from __future__ import annotations

import json
from json.encoder import encode_basestring


class _Token(str):
    """A number or NaN/±Infinity literal, kept as its source text."""

    __slots__ = ()


# objects decode to tuples of (key, value) pairs (order and duplicate
# members kept), arrays to lists; strict=False takes raw control
# characters inside strings, as fastjson does
_DECODER = json.JSONDecoder(
    parse_float=_Token,
    parse_int=_Token,
    parse_constant=_Token,
    object_pairs_hook=tuple,
    strict=False,
)


def _render(v) -> str:
    """A decoded value → compact JSON text (fastjson MarshalTo)."""
    t = type(v)
    if t is str:
        return encode_basestring(v)
    if t is _Token:
        return str(v)
    if t is tuple:
        return "{" + ",".join(
            encode_basestring(k) + ":" + _render(x) for k, x in v
        ) + "}"
    if t is list:
        return "[" + ",".join(map(_render, v)) + "]"
    return "null" if v is None else ("true" if v else "false")


def _flatten(pairs: tuple, prefix: str, out: dict, max_name_len) -> None:
    if max_name_len is not None and (
        len(prefix) + max((len(k) for k, _ in pairs), default=0)
        > max_name_len
    ):
        out[prefix[:-1] or "_msg"] = _render(pairs)
        return
    for k, v in pairs:
        name = prefix + k or "_msg"
        t = type(v)
        if t is tuple:
            _flatten(v, name + ".", out, max_name_len)
        elif t is str:
            out[name] = v
        elif v is not None:
            out[name] = _render(v)


def flatten_json_message(
    s: str, max_name_len: int | None = None
) -> dict[str, str] | None:
    """Dict of flattened fields, or None when ``s`` is not a parseable
    JSON object (the caller leaves the row as-is, or rejects it)."""
    try:
        obj = _DECODER.decode(s)
        if type(obj) is not tuple:
            return None
        out: dict[str, str] = {}
        _flatten(obj, "", out, max_name_len)
        return out
    except (ValueError, RecursionError):
        # RecursionError: adversarially deep nesting — fastjson errors at
        # its own MaxDepth too; the row is left unchanged either way
        return None


def flatten_json_column(src):
    """Arrow-batched map<string,string> column of flattened fields."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _flat(col: "pd.Series") -> "pd.Series":
        return col.map(
            lambda v: flatten_json_message(v) if isinstance(v, str) else None
        )

    # explicit functionType: `from __future__ import annotations` turns the
    # hints into strings the decorator cannot resolve against a
    # function-local pandas import
    from pyspark.sql.functions import PandasUDFType

    udf = F.pandas_udf(_flat, "map<string,string>", PandasUDFType.SCALAR)
    return udf(src)
