"""Plan-shape assertions: the physical plans that matter at 100 TB.

These tests read `.explain` output (executedPlan) and assert the
scale-critical properties: predicate pushdown into the Parquet scan,
column pruning, top-k sort (TakeOrderedAndProject), no unbounded
broadcast in stream_context, partial aggregation for stats.
"""

import os

import pytest

from victorialogs_spark.api import run_query
from victorialogs_spark.schema import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events")


def test_exact_filter_pushdown(spark, events):
    out = run_query(spark, events, "event_type:=error | fields event_id")
    plan = plan_of(out)
    assert "event_type" in plan and "= error" in plan.replace("#3", "")
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    assert "= error" in scan  # predicate reached the scan
    assert "value" not in scan.split("FileScan")[1][:200]  # column pruned


def test_in_filter_pushdown(spark, events):
    out = run_query(spark, events, "event_type:in(click, view) | fields event_id")
    scan = [ln for ln in plan_of(out).split("\n") if "FileScan" in ln][0]
    assert "IN (click,view)" in scan


def test_string_range_pushdown(spark, events):
    out = run_query(spark, events, "event_type:string_range(click, signup) | fields event_id")
    scan = [ln for ln in plan_of(out).split("\n") if "FileScan" in ln][0]
    assert ">= click" in scan and "< signup" in scan


def test_sort_limit_is_topk(spark, events):
    out = run_query(spark, events, "* | sort by (value) desc | limit 5 | fields event_id")
    assert "TakeOrderedAndProject" in plan_of(out)


def test_stats_partial_aggregation(spark, events):
    out = run_query(spark, events, "* | stats by (event_type) count() as c")
    plan = plan_of(out)
    # two-phase hash aggregate: partial (map-side) + final after exchange
    assert plan.count("HashAggregate") >= 2


def test_join_subquery_is_broadcast(spark, events):
    out = run_query(
        spark, events,
        "* | join by (event_type) (* | stats by (event_type) count() as total)",
    )
    assert "BroadcastHashJoin" in plan_of(out)


def test_join_large_subquery_not_forced_broadcast(spark, events, monkeypatch):
    """Above the size cap the join pipe must not force a broadcast hint —
    AQE decides at runtime (a forced broadcast of an unbounded subquery
    OOMs the driver at scale; the reference errors on its memory cap)."""
    from victorialogs_spark.planner import pipes as PP

    q = "* | join by (event_type) (* | stats by (event_type) count() as total)"
    expected = run_query(spark, events, q).count()
    monkeypatch.setattr(PP, "JOIN_BROADCAST_MAX_BYTES", 1)
    out = run_query(spark, events, q)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical  # no forced hint
    assert out.count() == expected  # same answer either way


def test_stream_context_no_forced_broadcast(spark):
    from victorialogs_spark.schema import events_as_logs

    logs = events_as_logs(spark, SF_DIR)
    out = run_query(spark, logs, "value:>199 | stream_context before 1 after 1")
    # must not contain an explicit broadcast HINT on the anchor side
    # (AQE may still choose broadcast at runtime, which is fine);
    # optimizedPlan would show ResolvedHint for an explicit F.broadcast
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "stream_context" or True  # plan builds
    # the anchors subtree must be join-able without a forced hint: the
    # logical plan for the *anchor* join side has no broadcast hint node
    assert logical.count("ResolvedHint") <= 1  # only the tiny 1-row total


def test_uniq_limit_no_global_window(spark, events):
    out = run_query(spark, events, "* | uniq by (event_type) with hits limit 2")
    plan = plan_of(out)
    # the hits-zeroing total must be a broadcast of a 1-row aggregate,
    # not a Window over an unpartitioned frame
    assert "Window" not in plan


def test_histogram_no_row_collect_list(spark, events):
    out = run_query(spark, events, "* | stats by (event_type) histogram(value) as h")
    plan = plan_of(out)
    # two-level: collect_list operates on pre-aggregated bucket counts;
    # plan must contain two aggregation layers
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 1


def test_time_range_pushdown_nano_long(spark, tmp_path):
    """_time range filters on a TIMESTAMP(NANOS) parquet table (read as
    bigint under nanosAsLong) must reach the scan as a plain long range on
    the raw column — row-group pruning on the primary access path. The
    timestamp_micros() view alone would reduce PushedFilters to IsNotNull."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from victorialogs_spark.schema import events_as_logs

    base = dt.datetime(2024, 1, 1)
    tab = pa.table(
        {
            "event_id": pa.array(range(20), pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(hours=12 * i) for i in range(20)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([i % 5 for i in range(20)], pa.int64()),
            "event_type": pa.array(["click"] * 20),
            "value": pa.array([float(i) for i in range(20)]),
            "props": pa.array(['{"k": 1}'] * 20),
        }
    )
    pq.write_table(tab, str(tmp_path / "events.parquet"), store_schema=False)
    logs = events_as_logs(spark, str(tmp_path))
    assert "__time_nanos" in logs.columns
    out = run_query(spark, logs, "_time:[2024-01-03, 2024-01-05) | fields event_id")
    assert out.count() == 4
    scan = [ln for ln in plan_of(out).split("\n") if "FileScan" in ln][0]
    pushed = scan.split("PushedFilters:")[1]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan" in pushed
    # and the internal raw column never leaks into the query output
    nofields = run_query(spark, logs, "_time:[2024-01-03, 2024-01-05)")
    assert "__time_nanos" not in nofields.columns
    # stream_context re-joins the raw source — it must shed internals too
    sc = run_query(spark, logs, "value:>17 | stream_context before 1 after 1")
    assert not [c for c in sc.columns if c.startswith("__")]


def test_time_range_pushdown_us_timestamps(spark):
    """On µs/ntz-timestamp tables (current testdata) the range must also
    reach the scan (via the transparent ntz→tz cast)."""
    from victorialogs_spark.schema import events_as_logs

    logs = events_as_logs(spark, SF_DIR)
    out = run_query(spark, logs, "_time:[2024-01-05, 2024-01-10) | fields event_id")
    scan = [ln for ln in plan_of(out).split("\n") if "FileScan" in ln][0]
    pushed = scan.split("PushedFilters:")[1]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed


def test_or_nested_in_subquery_no_driver_collect(spark, events, monkeypatch):
    """in(subquery) under OR with a large value set must become a join-flag
    plan, never a driver-side collect of every value into a mega-isin."""
    from victorialogs_spark.planner import planner as P

    q = "user_id:in(event_type:signup | fields user_id) or event_type:error | fields event_id"
    expected = run_query(spark, events, q).count()
    # force the large-set path regardless of data scale
    monkeypatch.setattr(P, "IN_VALUES_INLINE_MAX", 1)
    out = run_query(spark, events, q)
    assert out.count() == expected
    plan = plan_of(out)
    assert "Join" in plan  # membership ran as a join
    # no flag/value internals leak into the output
    assert out.columns == ["event_id"]
    nofields = run_query(spark, events, q.rsplit("|", 1)[0])
    assert not [c for c in nofields.columns if c.startswith("__vl_inflag")]


def test_nested_not_in_subquery(spark, events, monkeypatch):
    from victorialogs_spark.planner import planner as P

    q = ("not (user_id:in(event_type:signup | fields user_id)"
         " or event_type:click) | fields event_id")
    expected = run_query(spark, events, q).count()
    monkeypatch.setattr(P, "IN_VALUES_INLINE_MAX", 1)
    out = run_query(spark, events, q)
    assert out.count() == expected


def test_dedup_plans_join_free_bounded_shuffles(spark):
    """The dedup candidate generators must stay join-free (pairs are
    generated locally inside each bucket) with a bounded shuffle count:
    1 round-robin spread + 2 hash shuffles (bucket groupBy, pair groupBy).
    An accidental join or extra shuffle here is the 100 TB regression."""
    from victorialogs_spark.driver_entry import QUERIES

    for name in ("dp_ngram_jaccard", "dp_minhash_lsh"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = plan_of(df)
        joins = sum(
            plan.count(j)
            for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
        )
        assert joins == 0, f"{name}: join crept into the dedup plan"
        assert plan.count("Exchange") <= 3, f"{name}: extra shuffle"


def test_day_partition_pruning(spark, tmp_path):
    """A bounded _time filter must prune _day partitions at scan time."""
    import datetime as dt

    from victorialogs_spark.schema import with_day_partition

    UTC = dt.timezone.utc
    rows = [
        (dt.datetime(2024, 1, d, 12, 0, tzinfo=UTC), f"m{d}") for d in range(1, 6)
    ]
    df = with_day_partition(
        spark.createDataFrame(rows, "_time timestamp, _msg string")
    )
    path = str(tmp_path / "days")
    df.write.partitionBy("_day").parquet(path)
    table = spark.read.parquet(path)
    out = run_query(spark, table, "_time:[2024-01-02, 2024-01-03]")
    assert out.count() == 2
    plan = plan_of(out)
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    assert "PartitionFilters" in scan and "_day" in scan
    # only 2 of the 5 day partitions are read
    assert out.select("_msg").rdd.getNumPartitions() <= 3


def test_packing_has_no_global_sort(spark):
    """shuffle_shards/pack_sequences must never collapse the corpus into a
    single range partition (the 100 TB killer a global ORDER BY implies):
    their windows partition by shard, so the only exchange is a hash
    partitioning on shard."""
    from victorialogs_spark.datapipe.packing import pack_sequences, shuffle_shards

    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        shuffle_shards(docs.select("doc_id"), "doc_id", seed=1),
        pack_sequences(docs.select("doc_id", "n_chars"), "doc_id", "n_chars", 512),
    ):
        plan = plan_of(df)
        assert "rangepartitioning" not in plan.lower()
        assert "SinglePartition" not in plan
        assert "hashpartitioning(shard" in plan


def test_quantized_topk_is_columnar_topk(spark):
    """Quantized ANN must stay a pure-Column scan: no Python UDF, no
    shuffle except the top-k exchange (TakeOrderedAndProject)."""
    from victorialogs_spark.driver_entry import QUERIES

    df = QUERIES["dp_ann_quantized_topk"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan  # scan-side only


def test_span_and_tfidf_bounded_shuffles(spark):
    """The token-heavy round-5 operators keep bounded shuffle counts and
    use partial aggregation; the per-doc top-k window in tfidf is
    partitioned (never a global single-partition window)."""
    from victorialogs_spark.driver_entry import QUERIES

    spans = QUERIES["dp_repeated_spans"](spark, "/root/testdata/sf0.001")
    plan = plan_of(spans)
    assert "partial_count" in plan  # map-side combine on the span agg
    # the STATIC plan repeats the repartition("__g") subtree in both
    # branches (6 exchanges); at runtime AQE dedups it — assert the
    # reuse actually fires so the corpus is exploded+hashed ONCE
    assert plan.count("Exchange") <= 6
    assert "CartesianProduct" not in plan
    spans.collect()
    final = spans._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final

    tfidf = QUERIES["dp_tfidf_terms"](spark, "/root/testdata/sf0.001")
    plan = plan_of(tfidf)
    assert "partial_count" in plan
    assert "Window" in plan
    # the window must be partitioned by doc — a global window would say
    # "Window [...] ORDER BY" with an empty partition spec
    import re as _re

    w = [ln for ln in plan.split("\n") if "Window" in ln][0]
    assert "windowspecdefinition(doc_id" in w.replace("#", "").lower() or \
        _re.search(r"windowspecdefinition\(doc_id#\d+", w)


def test_dsir_ratio_table_built_in_shuffle(spark):
    """DSIR's smoothed ratio table is a full-outer join of two token
    frequency aggregates — it must never collect to the driver (no
    LocalTableScan of tokens) and totals must broadcast as one row."""
    from victorialogs_spark.driver_entry import QUERIES

    df = QUERIES["dp_dsir_weights"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals broadcast
    assert "partial_count" in plan


def test_cut_spans_and_bigram_bounded_plans(spark):
    """cut_repeated_spans: no cartesian product, partial aggregation on
    the span doc-frequency, and the rebuild is Column-only (exactly one
    Python stage — the positional window hasher). bigram_logprob: pair
    construction is pure Column (no UDF at all) with partial aggs."""
    from victorialogs_spark.driver_entry import QUERIES

    plan = plan_of(QUERIES["dp_cut_spans"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert plan.count("ArrowEvalPython") <= 2  # hasher per plan branch

    plan = plan_of(
        QUERIES["dp_bigram_logprob"](spark, "/root/testdata/sf0.001")
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_embedding_cartography_plans(spark):
    """knn_label_purity scores each corpus batch against the collected
    query set inside mapInPandas (per-batch partial winners — vectors
    never enter the shuffle; the old broadcast-nested-loop shipped
    |Q| x N pair rows) and label_centroids must partial-combine on
    (label, dim)."""
    from victorialogs_spark.driver_entry import QUERIES

    plan = plan_of(QUERIES["dp_knn_purity"](spark, "/root/testdata/sf0.001"))
    assert "MapInPandas" in plan
    assert "partial_max_by" in plan
    assert "CartesianProduct" not in plan
    # the only join is the tiny qid->qlabel broadcast AFTER the agg;
    # no vector column appears in any exchange
    assert "BroadcastHashJoin" in plan
    assert all(
        "embedding" not in ln for ln in plan.splitlines() if "Exchange" in ln
    )

    plan = plan_of(
        QUERIES["dp_label_centroids"](spark, "/root/testdata/sf0.001")
    )
    assert "partial_count" in plan and "Generate posexplode" in plan
    assert plan.count("Exchange") <= 1  # one hash shuffle, nothing else


def test_drop_empty_fields_no_persist_above_threshold(spark, events):
    """drop_empty_fields never caches its input (at 100 TB the spill is
    the cost): the flags aggregation and the query each scan the source,
    so the plan shows a plain scan, not InMemoryTableScan, and every
    event row has a non-empty field."""
    out = run_query(spark, events, "* | drop_empty_fields")
    assert "InMemoryTableScan" not in plan_of(out)
    assert out.count() == events.count()


def test_unpack_and_drop_empty_leave_no_cache(spark):
    """The unpack pipes (a JVM from_json map and a Python-parsed logfmt
    map alike) and drop_empty_fields re-scan instead of persisting: after
    they run, Spark's CacheManager holds nothing."""
    from victorialogs_spark.schema import events_as_logs

    logs = events_as_logs(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
    spark.catalog.clearCache()
    run_query(spark, logs, "* | unpack_json from props | stats count()").collect()
    run_query(
        spark, logs,
        '* | format "k=<event_type>" as lf | unpack_logfmt from lf '
        "| stats by (k) count()",
    ).collect()
    run_query(spark, logs, "* | drop_empty_fields").count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_unpack_fields_pushdown_single_parse_plan(spark, events):
    """unpack_json followed by a wildcard-free fields keep-pipe plans as
    a SINGLE parquet scan with no InMemoryTableScan: the planner's
    key-projection pushdown (planner._pushdown_unpack_keys) replaces the
    infer-then-extract shape (persisted map + key aggregate, or two
    parse scans) with one parse — the difference between one pass and
    two over a 100 TB source."""
    out = run_query(
        spark, events, "* | unpack_json from props | fields event_id, k"
    )
    plan = plan_of(out)
    assert plan.count("FileScan") == 1
    assert "InMemoryTableScan" not in plan
    # the extraction is a pure projection: no aggregate anywhere
    assert "Aggregate" not in plan


def test_unigram_logprob_preaggregated_shuffles(spark):
    """dp_unigram_logprob's frequency join must consume the (doc, token)
    pre-aggregate, not raw token occurrences: the first exchange after
    the explode hashes on (doc_id, __tok) — partial aggregation combines
    occurrences map-side, so the shuffle payload is counts (the sf1 A/B
    measured 5.95 -> 3.48 s; at corpus scale the raw-occurrence shuffle
    is the bottleneck)."""
    from victorialogs_spark.datapipe.quality import unigram_logprob

    docs = load_table(spark, SF_DIR, "documents")
    out = unigram_logprob(docs, "doc_id", "text")
    plan = plan_of(out)
    # the doc×token pre-aggregate exists and is partial-agg shaped
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Exchange hashpartitioning(doc_id") >= 1


def test_minhash_sketch_evaluates_once(spark):
    """The r14 minhash sketch UDF returns a struct (sig + band buckets)
    whose two field extractions MUST resolve to ONE Python eval node —
    without the asNondeterministic guard CollapseProject clones the
    whole sketch per extraction (measured 2x pathology, SCALE.md r14).
    Also pins that the JVM band-bucket expression chain is gone from
    the arrow path (no xxhash64-of-concat per band)."""
    from victorialogs_spark.driver_entry import QUERIES

    df = QUERIES["dp_minhash_lsh"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    evals = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert evals == 1, f"sketch UDF evaluated {evals} times:\n{plan[:2000]}"
    assert "concat_ws" not in plan, "JVM band-bucket chain resurfaced"


def test_query_last_n_is_topk(spark):
    """ep.query_last_n (the /query limit=N newest-rows path) must plan
    as TakeOrderedAndProject — never a global sort of the full result —
    so the reference's adaptive time-range halving (a block-streaming
    engine workaround) stays unnecessary at any scale."""
    from victorialogs_spark import endpoints as ep
    from victorialogs_spark.schema import events_as_logs

    logs = events_as_logs(spark, SF_DIR)
    out = ep.query_last_n(
        spark, logs, "event_type:click | fields _time, event_id", 10
    )
    plan = plan_of(out)
    assert "TakeOrderedAndProject" in plan


def test_endpoint_start_end_prunes_day_partitions(spark, tmp_path):
    """The r15 common-args fold means start/end on EVERY select endpoint
    reaches the planner as an AST time range — which must prune _day
    partitions at scan time, exactly like an in-query _time filter (the
    old frame-level pre-filter never ran _day_prune)."""
    import datetime as dt

    from victorialogs_spark import endpoints as ep
    from victorialogs_spark.schema import with_day_partition

    UTC = dt.timezone.utc
    rows = [
        (dt.datetime(2024, 1, d, 12, 0, tzinfo=UTC), f"m{d}", "app")
        for d in range(1, 6)
    ]
    df = with_day_partition(
        spark.createDataFrame(rows, "_time timestamp, _msg string, app string")
    )
    path = str(tmp_path / "days")
    df.write.partitionBy("_day").parquet(path)
    table = spark.read.parquet(path)

    lo = int(dt.datetime(2024, 1, 2, tzinfo=UTC).timestamp() * 1e9)
    hi = int(dt.datetime(2024, 1, 3, 23, tzinfo=UTC).timestamp() * 1e9)
    out = ep.hits(spark, table, "*", step="1d", start_ns=lo, end_ns=hi)
    rows_out = out.collect()
    assert sum(int(r["hits"]) for r in rows_out) == 2
    plan = plan_of(out)
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    assert "PartitionFilters" in scan and "_day" in scan
    # inputFiles() reports the pre-pruning relation; the partition count
    # of the scan RDD reflects what is actually read (2 of 5 day dirs)
    assert out.select("_time").rdd.getNumPartitions() <= 3
