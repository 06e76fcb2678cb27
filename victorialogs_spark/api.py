"""Top-level query API: LogsQL string → DataFrame."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from victorialogs_spark.logsql.parser import parse_query


def run_query(
    spark: SparkSession,
    df: DataFrame | str,
    query: str,
    timestamp_ns: int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
) -> DataFrame:
    """Run a LogsQL query against a log DataFrame, or against a log-table
    PATH. The path form opens the table through
    ``index.bloom.open_log_table``, which prunes input files through the
    sidecars registered for the path (``register_bloom_index``,
    ``register_stream_index``) before the scan starts (the reference
    probes its per-block token blooms on every word filter,
    lib/logstorage/filter_phrase.go:85-122). A local table is opened
    once per table CHANGE, not once per query: until a file under it
    changes, later queries reuse its schema, file list and pruned
    readers and open it with no Spark job. Subqueries plan against the
    unpruned reader of the same table (``subquery_source``).

    ``start_ns``/``end_ns`` are the API-level global time filter (the
    HTTP start/end args); subqueries inherit it unless they set
    options(ignore_global_time_filter=true)."""
    from victorialogs_spark.planner.planner import plan_query

    source_df = None
    if isinstance(df, str):
        from victorialogs_spark.index.bloom import open_log_table, subquery_source

        path = df
        df = open_log_table(spark, path, query)
        # subqueries / join / union / stream_context must plan against the
        # UNPRUNED table — the sidecar prune narrows only the outer scan,
        # never what other plan nodes can see
        source_df = subquery_source(spark, path, df)
    q = parse_query(query, timestamp_ns)
    gt = None
    if start_ns is not None or end_ns is not None:
        gt = (
            start_ns if start_ns is not None else -(2**62),
            end_ns if end_ns is not None else 2**62,
        )
    return plan_query(spark, df, q, global_time_ns=gt, source_df=source_df)
