"""Token-bloom side index: per-file Bloom filters over message tokens,
used to prune input FILES for word/phrase filters before the scan even
starts — the Spark-side equivalent of the reference's per-block token
bloom filters (lib/logstorage/bloomfilter.go:16-19: 6 hashes, 16 bits per
token; here per parquet file instead of per 2 MB block).

Parquet's built-in bloom filters index whole VALUES; LogsQL word filters
match TOKENS inside the message, which value blooms can't serve — hence
this sidecar. Correctness never depends on it: files absent from the
index are always scanned, and the real filter still runs after pruning.

Build is fully distributed (distinct tokens per file → applyInPandas
bitset build). Probe reads only the tiny sidecar table.
"""

from __future__ import annotations

import hashlib
import threading
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from victorialogs_spark.logsql import ast as A

BITS_PER_TOKEN = 16  # same density as the reference
NUM_HASHES = 6

# the bloom tokenizer MUST match the phrase-filter tokenizer exactly —
# a charset divergence makes pruning skip files containing real matches
# with no test signal; derive from the single source of truth
from victorialogs_spark.functions.text import TOKEN_RE as _TOKEN_CLASS
from victorialogs_spark.functions.text import py_tokens

_TOKEN_RE = _TOKEN_CLASS + "+"


def _bloom_positions(token: str, nbits: int) -> list[int]:
    """k deterministic bit positions for a token (md5-derived, engine- and
    process-independent)."""
    out = []
    for i in range(NUM_HASHES):
        h = hashlib.md5(f"{i}|{token}".encode("utf-8")).digest()
        out.append(int.from_bytes(h[:8], "big") % nbits)
    return out


def _bloom_size(n_tokens: int) -> int:
    bits = max(64, n_tokens * BITS_PER_TOKEN)
    return (bits + 7) // 8 * 8  # whole bytes


def build_token_bloom_index(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    fields: list[str] | None = None,
) -> None:
    """Build the sidecar: one row per (file) with a bloom over the distinct
    tokens of ``fields`` (default: _msg). Run it after ingest/compaction."""
    fields = fields or ["_msg"]
    df = spark.read.parquet(table_path)
    cols = [c for c in fields if c in df.columns]
    if not cols:
        raise ValueError(f"none of {fields} present in {table_path}")
    # coalesce each field to '': a single NULL field would make flatten()
    # NULL and drop the row's OTHER tokens from the bloom — a false
    # negative that would let pruning skip files containing real matches
    toks = F.explode(
        F.array_distinct(
            F.flatten(
                F.array(
                    *[
                        F.regexp_extract_all(
                            F.coalesce(F.col(c), F.lit("")), F.lit(_TOKEN_RE), 0
                        )
                        for c in cols
                    ]
                )
            )
        )
    )
    per_file = (
        df.select(F.input_file_name().alias("file"), toks.alias("token"))
        .distinct()
    )

    def _build(pdf):
        import pandas as pd

        file = pdf["file"].iloc[0]
        tokens = pdf["token"].tolist()
        nbits = _bloom_size(len(tokens))
        bits = bytearray(nbits // 8)
        for t in tokens:
            for pos in _bloom_positions(t, nbits):
                bits[pos // 8] |= 1 << (pos % 8)
        return pd.DataFrame(
            {"file": [file], "n_tokens": [len(tokens)], "bloom": [bytes(bits)]}
        )

    schema = "file string, n_tokens long, bloom binary"
    index = per_file.groupBy("file").applyInPandas(_build, schema)
    # record WHICH fields were indexed so a rebuild (cli compact
    # --index) can preserve the sidecar's semantics instead of silently
    # reverting to the default field set
    index.withColumn("fields", F.lit(",".join(cols))).write.mode(
        "overwrite"
    ).parquet(index_path)


def _maybe_contains(bloom: bytes, token: str) -> bool:
    nbits = len(bloom) * 8
    if nbits == 0:
        return True
    for pos in _bloom_positions(token, nbits):
        if not (bloom[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


def candidate_files(
    spark: SparkSession,
    index_path: str,
    tokens_by_field: dict[str, list[str]],
) -> tuple[set[str], set[str]]:
    """(indexed_files, candidate_files): candidates may contain ALL the
    query tokens of the fields their own sidecar row indexed (bloom
    AND-semantics, the same conjunctive pruning the reference applies
    per block). Small local sidecars probe driver-side (index/local.py);
    otherwise one distributed pass over the sidecar yields both sets —
    only file names reach the driver, never the bloom bitsets (at 100 TB
    the sidecar holds one row per file; bitsets can be MBs each).

    Each file is probed ONLY with the tokens of fields its row indexed
    (per-row "fields"): in a heterogeneous sidecar (partial rebuild /
    append with a different field set), probing a file with tokens of a
    field it never indexed would wrongly prune matching files. A file
    whose field set carries no query tokens is kept (nothing prunable
    about it), so tokens on unindexed fields never prune."""
    from victorialogs_spark.index.local import read_local_index

    def _may_match(bloom, fields_str) -> bool:
        return bloom is not None and all(
            _maybe_contains(bytes(bloom), t)
            for f in (fields_str or "_msg").split(",")
            for t in tokens_by_field.get(f, ())
        )

    local = read_local_index(index_path)
    if local is not None:
        return (
            {r["file"] for r in local},
            {r["file"] for r in local if _may_match(r["bloom"], r.get("fields"))},
        )
    idx = spark.read.parquet(index_path)
    fields_col = F.col("fields") if "fields" in idx.columns else F.lit("_msg")
    probe = F.udf(_may_match, "boolean")
    rows = idx.select(
        "file", probe(F.col("bloom"), fields_col).alias("hit")
    ).collect()
    return {r["file"] for r in rows}, {r["file"] for r in rows if r["hit"]}


def tokens_of_query(q: A.Query) -> dict[str, list[str]]:
    """The prunable part of a parsed query's filter: the word/phrase
    tokens of its top-level conjuncts, per field."""
    conjuncts = q.filter.children if isinstance(q.filter, A.FAnd) else [q.filter]
    out: dict[str, list[str]] = {}
    for c in conjuncts:
        if isinstance(c, A.FPhrase) and not c.case_insensitive:
            # py_tokens, not re.findall: Python re has no \p{L}, and the
            # probe MUST classify exactly like the JVM index build or
            # pruning silently drops matching files
            toks = py_tokens(c.phrase)
            if toks:
                out.setdefault(c.field, []).extend(toks)
    return out


@dataclass
class TableSnapshot:
    """What opening one version of a log table derives: the full reader
    (one schema-inferring ``spark.read.parquet``), its file list, and the
    pruned readers already built from it, keyed by their kept files."""

    full: DataFrame
    files: list[str]
    pruned: dict[tuple[str, ...], DataFrame] = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def reader(self, spark: SparkSession, table_path: str,
               keep: list[str]) -> DataFrame:
        """The reader over ``keep``, a subset of ``files``, built once."""
        key = tuple(keep)
        with self.lock:
            df = self.pruned.get(key)
        if df is None:
            # basePath keeps partition columns (_day=... directory
            # values) populated when reading leaf files directly; on a
            # flat table it is a no-op
            df = (
                spark.read.schema(self.full.schema)
                .option("basePath", table_path)
                .parquet(*keep)
            )
            with self.lock:
                df = self.pruned.setdefault(key, df)
        return df


def table_snapshot(spark: SparkSession, table_path: str) -> TableSnapshot:
    """The snapshot of the log table at ``table_path`` for ``spark``. A
    local table's snapshot is reused until a file or directory under it
    changes (index/local.py's fingerprint, taken BEFORE Spark lists the
    table, so a concurrent writer can cause an extra rebuild but never a
    stale read); any other scheme gets a new snapshot per call."""
    from victorialogs_spark.index.local import local_path, memo, tree_fingerprint

    def build() -> TableSnapshot:
        full = spark.read.parquet(table_path)
        # metadata-only file listing — a select(input_file_name())
        # .distinct() would scan every row just to enumerate files
        return TableSnapshot(full, list(full.inputFiles()))

    root = local_path(table_path)
    fingerprint = tree_fingerprint(root) if root is not None else None
    return memo(("table", spark, root), fingerprint, build)


def read_pruned(
    spark: SparkSession,
    table_path: str,
    index_path: str | None,
    query: str,
    stream_index_path: str | None = None,
) -> DataFrame:
    """Open the log table at ``table_path`` for ``query``, scanning ONLY
    files that may match its word filters (token-bloom sidecar,
    ``index_path``) AND its stream constraints (stream-value sidecar,
    ``stream_index_path`` — index/streams.py).

    The one place a table path is opened. The table's snapshot
    (``table_snapshot``) is built once per table CHANGE, not once per
    query: while no file under a local table changes, opening it runs no
    Spark job, lists nothing and reuses the pruned reader an earlier
    query with the same kept files built. Each query is parsed once and
    probes each sidecar once. Files a sidecar does not list are always
    kept, and a sidecar that cannot be read (deleted, corrupt) prunes
    nothing. Returns the full table reader when nothing is prunable; a
    pruned reader otherwise carries the full reader's schema, so
    partition columns stay populated."""
    from victorialogs_spark.index.streams import (
        stream_candidate_files,
        stream_constraints_of_query,
    )
    from victorialogs_spark.logsql.parser import parse_query

    snap = table_snapshot(spark, table_path)
    q = parse_query(query)
    probes = []
    if index_path and (tokens := tokens_of_query(q)):
        probes.append((candidate_files, index_path, tokens))
    if stream_index_path and (constraints := stream_constraints_of_query(q)):
        probes.append((stream_candidate_files, stream_index_path, constraints))
    keep = snap.files
    for probe, sidecar, wanted in probes:
        try:
            indexed, cands = probe(spark, sidecar, wanted)
        except Exception as e:  # noqa: BLE001 — unreadable sidecar: no pruning
            warnings.warn(
                f"sidecar {sidecar} is unreadable ({type(e).__name__});"
                " not pruning through it",
                stacklevel=2,
            )
            continue
        keep = [f for f in keep if f not in indexed or f in cands]
    if len(keep) == len(snap.files):
        return snap.full
    if not keep:
        return snap.full.limit(0)
    return snap.reader(spark, table_path, keep)


# ---------------------------------------------------------------------------
# planner integration: registered indexes are consulted automatically when
# a query runs against a table PATH (api.run_query accepts either a
# DataFrame or a path) — the analogue of the reference probing its token
# blooms on every word filter (lib/logstorage/filter_phrase.go:85-122).
# ---------------------------------------------------------------------------

# the one sidecar registry: normalized table path -> {kind: sidecar path},
# kind "bloom" (this module) or "streams" (index/streams.py)
_REGISTRY: dict[str, dict[str, str]] = {}


def _norm_path(p: str) -> str:
    from victorialogs_spark.index.local import local_path

    return local_path(p) or p.rstrip("/")


def register_sidecar(table_path: str, kind: str, index_path: str) -> None:
    """Associate a ``kind`` ("bloom" or "streams") sidecar with a
    log-table path; ``open_log_table`` prunes through every sidecar
    registered for the path."""
    _REGISTRY.setdefault(_norm_path(table_path), {})[kind] = index_path


def register_bloom_index(table_path: str, index_path: str) -> None:
    """Associate a sidecar bloom index with a log-table path. Subsequent
    ``api.run_query(spark, table_path, query)`` calls prune input files
    through it automatically."""
    register_sidecar(table_path, "bloom", index_path)


def open_log_table(spark: SparkSession, table_path: str, query: str) -> DataFrame:
    """Open a log table for a query through ``read_pruned``, applying
    every sidecar registered for the path (token bloom + stream values).
    The table itself is opened once per table change (``table_snapshot``),
    not once per query. Correctness never depends on the indexes."""
    sidecars = _REGISTRY.get(_norm_path(table_path), {})
    return read_pruned(
        spark, table_path, sidecars.get("bloom"), query,
        stream_index_path=sidecars.get("streams"),
    )


def subquery_source(
    spark: SparkSession, table_path: str, opened: DataFrame
) -> DataFrame:
    """The unpruned reader of the table ``opened`` (an ``open_log_table``
    result) came from, for the plan nodes the sidecar prune must not
    narrow (subqueries, join, union, stream_context): a local table's
    snapshot reader; on any other scheme a new reader that reuses
    ``opened``'s schema, so no second schema inference runs."""
    from victorialogs_spark.index.local import local_path

    if local_path(table_path) is None:
        return spark.read.schema(opened.schema).parquet(table_path)
    return table_snapshot(spark, table_path).full
