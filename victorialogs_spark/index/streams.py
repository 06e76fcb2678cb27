"""Per-file stream-value sidecar — the ``{label=...}`` / ``_stream_id``
analogue of the token-bloom index (bloom.py).

The reference resolves stream filters against its inverted index first
and scans only the matching streams' blocks (indexdb.go:182-213). After
:func:`streaming.ingest.compact_day` clusters rows by ``(_stream_id,
_time)``, each parquet file holds FEW distinct streams — so a sidecar of
one row per (file, field) with the file's distinct value SET is tiny,
and a stream-filtered query can skip whole files by scanning the sidecar
instead of opening 10⁵ footers for row-group stats. Row-group min/max
still prunes WITHIN the files that survive.

Exact sets, not blooms: stream cardinality per file is low by
construction (the clustering is what makes this index worth building),
and exact sets also serve negative lookups. A file whose distinct-value
count exceeds ``MAX_VALUES_PER_FILE`` records ``overflow`` and is never
pruned — correctness cannot depend on the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from victorialogs_spark.logsql import ast as A

MAX_VALUES_PER_FILE = 4096

# on-disk format version. v2: NULL label values are recorded as "" (the
# engine's missing≡empty rule). A sidecar without the version column
# predates v2 and its value sets may lack "" — the reader treats "" as
# unprunable through such files rather than pruning wrong.
FORMAT_VERSION = 2

def build_stream_index(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    fields: list[str] | None = None,
) -> None:
    """Build the sidecar: one row per (file, field) with the file's
    distinct values of each stream-identity field (default:
    ``_stream_id`` plus every promoted label column is the CALLER's
    choice — pass the table's stream fields). Run after compaction, like
    build_token_bloom_index."""
    fields = fields or ["_stream_id"]
    df = spark.read.parquet(table_path)
    cols = [c for c in fields if c in df.columns]
    if not cols:
        raise ValueError(f"none of {fields} present in {table_path}")
    # ONE table scan for all indexed fields (the per-field loop this
    # replaces scanned the table once per field — a 3-field sidecar
    # rebuild tripled its I/O; r14 review finding): explode each row to
    # (file, field, value) and aggregate per (file, field).
    # NULL records as "": the engine matches missing/NULL fields as
    # empty strings (fcol = coalesce(col, '')), so {label=""} must find
    # files whose rows are NULL there — collect_set would silently drop
    # NULLs otherwise.
    fv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("field"),
                    F.coalesce(F.col(c).cast("string"), F.lit("")).alias(
                        "value"
                    ),
                )
                for c in cols
            ]
        )
    )
    out = (
        df.select(F.input_file_name().alias("file"), fv.alias("fv"))
        .select("file", "fv.field", "fv.value")
        .distinct()
        .groupBy("file", "field")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            (F.count(F.lit(1)) > MAX_VALUES_PER_FILE).alias("overflow"),
            F.array_sort(F.collect_set("value")).alias("values"),
        )
        .select("file", "field", "n_values", "overflow", "values")
    )
    # overflowed rows keep an EMPTY list (the set is useless and can
    # be arbitrarily large; overflow=true already disables pruning)
    out = out.withColumn(
        "values",
        F.when(F.col("overflow"), F.array().cast("array<string>"))
        .otherwise(F.col("values")),
    )
    out.withColumn("version", F.lit(FORMAT_VERSION)).write.mode(
        "overwrite"
    ).parquet(index_path)


def stream_constraints_of_query(q: A.Query) -> dict[str, set[str]]:
    """Extract per-field equality value sets from a parsed query's
    TOP-LEVEL conjuncts — the prunable part of stream filters,
    AND-semantics across fields:

    - ``_stream_id:in(id, ...)`` → {"_stream_id": ids}
    - ``{a="x"}`` → {"a": {"x"}}; ``{a="x" or a="y"}`` → {"a": {"x","y"}}

    An OR term that does not constrain a field with ``=`` makes that
    field unprunable (negations/regexes never prune — conservative,
    like the reference's matching-streams resolution)."""
    conjuncts = q.filter.children if isinstance(q.filter, A.FAnd) else [q.filter]
    out: dict[str, set[str]] = {}

    def _merge(field: str, values: set[str]) -> None:
        if field in out:
            # two conjuncts on one field: both must hold; candidate
            # values are the intersection
            out[field] &= values
        else:
            out[field] = values

    for c in conjuncts:
        if isinstance(c, A.FStreamId) and c.ids:
            _merge("_stream_id", set(c.ids))
        elif isinstance(c, A.FStream):
            # per field: every OR term must pin it with '=' for the
            # union of pinned values to be a sound file filter
            fields: dict[str, set[str]] = {}
            sound: set[str] | None = None
            for term in c.or_terms:
                eqs = {m.label: m.value for m in term if m.op == "="}
                term_fields = set(eqs)
                sound = term_fields if sound is None else sound & term_fields
                for f_, v in eqs.items():
                    fields.setdefault(f_, set()).add(v)
            for f_ in sound or set():
                _merge(f_, fields[f_])
    return out


# above this many wanted values per field, the probe joins a broadcast
# values frame instead of inlining literals into the expression tree
_MAX_LITERAL_VALUES = 64


def stream_candidate_files(
    spark: SparkSession, index_path: str, constraints: dict[str, set[str]]
) -> tuple[set[str], set[str]]:
    """(indexed_files, candidate_files): files whose recorded value set
    intersects EVERY constrained field's wanted values. Overflowed rows
    always qualify for their field. Small local sidecars are evaluated
    driver-side (index/local.py — same semantics, no Spark jobs); the
    probe runs distributed otherwise, with only file names reaching the
    driver."""
    from victorialogs_spark.index.local import read_local_index

    local = read_local_index(index_path)
    if local is not None:
        return _local_stream_candidates(local, constraints)
    # mergeSchema: a mixed-version sidecar (pre-v2 parts appended before
    # the upgrade) must expose the version column as NULL for pre-v2
    # rows; the default single-footer schema would make its presence
    # depend on WHICH part Spark sampled
    idx = spark.read.option("mergeSchema", "true").parquet(index_path)
    has_version = "version" in idx.columns
    cols = ["file", "field"] + (["version"] if has_version else [])
    # one driver job yields the indexed-file/field sets AND the version
    # verdict
    pairs = idx.select(*cols).distinct().collect()
    indexed = {r["file"] for r in pairs}
    indexed_fields = {r["field"] for r in pairs}
    # pre-v2 sidecars recorded NULL labels as absent, not "" — an ""
    # constraint through them would prune files that DO match. Sound
    # only when EVERY row is v2: any pre-v2 row (version NULL under the
    # merged schema) means some file's empty-value evidence is missing,
    # so "" pruning must be skipped for the whole sidecar.
    nulls_as_empty = has_version and all(
        r["version"] is not None for r in pairs
    )
    prunable: dict[str, set[str]] = {}
    for field, values in constraints.items():
        if field not in indexed_fields:
            # the sidecar never indexed this field — it is UNPRUNABLE,
            # not unmatched; treating it as matching zero files would
            # empty out correct results ("correctness cannot depend on
            # the index")
            continue
        if not values:
            # contradictory conjuncts ({a="x"} {a="y"}) — no file can
            # match; an empty F.array() below would also be untyped
            return indexed, set()
        if "" in values and not nulls_as_empty:
            # stale (pre-v2) sidecar can't answer "" soundly — skip
            continue
        prunable[field] = values
    if not prunable:
        return indexed, indexed
    # ONE probe job for every constrained field (a per-field loop was a
    # driver round-trip per field). A file qualifies when it matches ALL
    # prunable fields (overflowed rows always match their field).
    small = all(len(v) <= _MAX_LITERAL_VALUES for v in prunable.values())
    if small:
        # literal-array intersect: tiny value sets inline into the plan
        cond = F.lit(False)
        for field, values in prunable.items():
            cond = cond | (
                (F.col("field") == field)
                & (
                    F.col("overflow")
                    | (
                        F.size(
                            F.array_intersect(
                                F.col("values"),
                                F.array(*[F.lit(v) for v in sorted(values)]),
                            )
                        )
                        > 0
                    )
                )
            )
        hits = idx.where(cond).select("file", "field")
    else:
        # large value sets (a _stream_id:in(...) with 10^4+ ids would
        # build a 10^4-literal expression tree: slow analysis, codegen
        # limits) join the exploded sidecar values against a BROADCAST
        # frame of wanted values instead — round-6 advice
        wanted = spark.createDataFrame(
            [(f, v) for f, vs in prunable.items() for v in sorted(vs)],
            "field string, value string",
        )
        ex = idx.where(F.col("field").isin(list(prunable))).select(
            "file", "field", "overflow", F.explode_outer("values").alias("value")
        )
        hits = (
            ex.where(F.col("overflow"))
            .select("file", "field")
            .unionByName(
                ex.join(F.broadcast(wanted), ["field", "value"]).select(
                    "file", "field"
                )
            )
        )
    rows = (
        hits.groupBy("file")
        .agg(F.countDistinct("field").alias("__m"))
        .where(F.col("__m") == len(prunable))
        .select("file")
        .collect()
    )
    return indexed, indexed & {r["file"] for r in rows}


def _local_stream_candidates(
    rows: list[dict], constraints: dict[str, set[str]]
) -> tuple[set[str], set[str]]:
    """Driver-side twin of the distributed probe — evaluates the SAME
    semantics (unindexed field unprunable, contradictory conjuncts empty,
    pre-v2 "" skip, overflow always matches, AND across fields) over the
    sidecar rows in plain Python. Pinned equal to the Spark path by
    tests/test_stream_index.py::test_local_probe_matches_spark_probe."""
    indexed = {r["file"] for r in rows}
    indexed_fields = {r["field"] for r in rows}
    # v2 detection over ALL rows, mirroring the Spark path's
    # mergeSchema check: "" pruning is sound only when EVERY row came
    # from a v2 part (pyarrow rows from pre-v2 parts simply lack the
    # key). A mixed sidecar has files whose empty-value evidence is
    # missing, so any pre-v2 row disables "" pruning for the whole
    # sidecar — an any()/first-row probe would over-prune files that
    # DO match (wrong results), the original rows[:1] bug's mirror.
    nulls_as_empty = bool(rows) and all(
        r.get("version") is not None for r in rows
    )
    prunable: dict[str, set[str]] = {}
    for field, values in constraints.items():
        if field not in indexed_fields:
            continue
        if not values:
            return indexed, set()
        if "" in values and not nulls_as_empty:
            continue
        prunable[field] = values
    if not prunable:
        return indexed, indexed
    matched: dict[str, set[str]] = {}
    for r in rows:
        field = r["field"]
        want = prunable.get(field)
        if want is None:
            continue
        if r["overflow"] or want.intersection(r["values"] or ()):
            matched.setdefault(r["file"], set()).add(field)
    cands = {f for f, flds in matched.items() if len(flds) == len(prunable)}
    return indexed, cands


def register_stream_index(table_path: str, index_path: str) -> None:
    """Associate a stream-value sidecar with a log-table path;
    ``api.run_query(spark, table_path, query)`` prunes through it
    automatically (composes with a registered bloom index)."""
    from victorialogs_spark.index.bloom import register_sidecar

    register_sidecar(table_path, "streams", index_path)
