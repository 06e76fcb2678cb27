"""Tests for the token-bloom side index (file pruning for word filters)."""

import datetime as dt

from pyspark.sql import functions as F

from victorialogs_spark.api import run_query
from victorialogs_spark.index.bloom import (
    build_token_bloom_index,
    candidate_files,
    read_pruned,
    tokens_of_query,
)
from victorialogs_spark.logsql.parser import parse_query

UTC = dt.timezone.utc


def _write_table(spark, path):
    # 3 files with disjoint vocabularies (one file per write)
    batches = [
        ["alpha request accepted", "alpha cache warm"],
        ["beta connection refused", "beta retry scheduled"],
        ["gamma disk full", "gamma quota exceeded"],
    ]
    for i, msgs in enumerate(batches):
        rows = [
            (dt.datetime(2024, 1, 1, 0, i, j, tzinfo=UTC), m)
            for j, m in enumerate(msgs)
        ]
        df = spark.createDataFrame(rows, "_time timestamp, _msg string")
        df.coalesce(1).write.mode("append").parquet(path)


def _tokens(query):
    return tokens_of_query(parse_query(query))


def test_words_of_query():
    assert _tokens("error") == {"_msg": ["error"]}
    assert _tokens('"disk full" beta') == {"_msg": ["disk", "full", "beta"]}
    # tokens are kept per field
    assert _tokens("app:x error") == {"app": ["x"], "_msg": ["error"]}
    assert _tokens("error OR warn") == {}  # OR is not prunable


def test_bloom_prunes_files(spark, tmp_path):
    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_token_bloom_index(spark, table, index)

    n_files = spark.read.parquet(index).count()
    assert n_files == 3

    def cands(toks):
        indexed, out = candidate_files(
            spark, index, tokens_by_field={"_msg": toks}
        )
        assert len(indexed) == 3
        return out

    assert len(cands(["beta"])) == 1
    assert len(cands(["zzz_not_there"])) == 0
    # conjunctive: tokens from different files → no candidate file
    assert len(cands(["alpha", "gamma"])) == 0

    pruned = read_pruned(spark, table, index, "beta")
    assert pruned.select(F.input_file_name()).distinct().count() == 1
    # correctness: pruned + filter ≡ full + filter
    got = {r["_msg"] for r in run_query(spark, pruned, "beta").collect()}
    full = spark.read.parquet(table)
    want = {r["_msg"] for r in run_query(spark, full, "beta").collect()}
    assert got == want == {"beta connection refused", "beta retry scheduled"}


def test_run_query_consults_registered_bloom_automatically(spark, tmp_path):
    """api.run_query(spark, <path>, q) must prune files through a
    registered index with zero caller plumbing — fewer files scanned,
    identical results (filter_phrase.go:85-122 parity)."""
    from victorialogs_spark.index.bloom import register_bloom_index

    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_token_bloom_index(spark, table, index)
    register_bloom_index(table, index)

    out = run_query(spark, table, "beta")
    assert len(out.inputFiles()) == 1  # 2 of 3 files pruned at plan time
    got = {r["_msg"] for r in out.collect()}
    want = {
        r["_msg"]
        for r in run_query(spark, spark.read.parquet(table), "beta").collect()
    }
    assert got == want == {"beta connection refused", "beta retry scheduled"}
    # path spelling variants normalize to the registered key
    out2 = run_query(spark, table + "/", "gamma")
    assert {r["_msg"] for r in out2.collect()} == {
        "gamma disk full", "gamma quota exceeded"
    }
    # a genuinely UNREGISTERED table takes the plain-reader branch:
    # all files scanned, correct answer
    other = str(tmp_path / "unregistered")
    _write_table(spark, other)
    out3 = run_query(spark, other, "alpha")
    assert len(out3.inputFiles()) == 3  # nothing pruned
    assert {r["_msg"] for r in out3.collect()} == {
        "alpha request accepted", "alpha cache warm"
    }


def test_bloom_pruning_never_affects_subqueries(spark, tmp_path):
    """'Correctness never depends on the index': union/join/in(subquery)
    must plan against the UNPRUNED table even when the outer scan was
    bloom-pruned — rows living only in pruned files stay reachable."""
    from victorialogs_spark.index.bloom import register_bloom_index

    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_token_bloom_index(spark, table, index)
    register_bloom_index(table, index)

    # outer filter 'beta' prunes 2 of 3 files; the union subquery wants
    # 'gamma' rows that live ONLY in a pruned file
    out = run_query(spark, table, "beta | union (gamma)")
    msgs = {r["_msg"] for r in out.collect()}
    assert msgs == {
        "beta connection refused", "beta retry scheduled",
        "gamma disk full", "gamma quota exceeded",
    }


def test_bloom_unindexed_files_always_scanned(spark, tmp_path):
    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_token_bloom_index(spark, table, index)
    # append a NEW file after the index was built
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, tzinfo=UTC), "delta fresh beta data")],
        "_time timestamp, _msg string",
    )
    df.coalesce(1).write.mode("append").parquet(table)
    pruned = read_pruned(spark, table, index, "beta")
    got = {r["_msg"] for r in run_query(spark, pruned, "beta").collect()}
    assert "delta fresh beta data" in got  # unindexed file was not pruned
    assert len(got) == 3


def test_bloom_local_probe_matches_spark_probe(spark, tmp_path, monkeypatch):
    """The driver-side fast path (index/local.py) must return EXACTLY
    the distributed bloom probe's candidates for single-token,
    conjunctive, and no-match probes."""
    from victorialogs_spark.index import local as L

    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_token_bloom_index(spark, table, index)

    for toks in (["beta"], ["alpha", "gamma"], ["zzz_not_there"], ["alpha"]):
        tbf = {"_msg": toks}
        local = candidate_files(spark, index, tokens_by_field=tbf)
        monkeypatch.setattr(L, "LOCAL_INDEX_MAX_BYTES", 0)
        dist = candidate_files(spark, index, tokens_by_field=tbf)
        monkeypatch.undo()
        assert local == dist, toks


def test_local_index_reader_gates_and_falls_back(tmp_path):
    """read_local_index: None for missing paths, oversized sidecars, and
    non-parquet directories — the Spark probe is the fallback, never an
    exception."""
    from victorialogs_spark.index.local import read_local_index

    assert read_local_index(str(tmp_path / "nope")) is None
    assert read_local_index("hdfs://nn/idx") is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_local_index(str(empty)) is None
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "part-0.parquet").write_bytes(b"not parquet at all")
    assert read_local_index(str(junk)) is None


def test_probe_skips_sidecar_not_indexing_msg(spark, tmp_path):
    """A sidecar built over a NON-_msg field must not prune on _msg
    tokens: files whose label bloom lacks the token still contain _msg
    matches (r14 review finding — unsound pruning silently dropped
    rows). A sidecar that DOES index the queried field still prunes."""
    from victorialogs_spark.index.bloom import (
        build_token_bloom_index,
        read_pruned,
    )

    tdir = str(tmp_path / "tbl")
    rows1 = [("error in request", "web")] * 3
    rows2 = [("all fine here", "db")] * 3
    spark.createDataFrame(rows1, "_msg string, app string").coalesce(1).write.mode(
        "append"
    ).parquet(tdir)
    spark.createDataFrame(rows2, "_msg string, app string").coalesce(1).write.mode(
        "append"
    ).parquet(tdir)

    # sidecar over app ONLY: an _msg token query must NOT prune
    app_idx = str(tmp_path / "idx_app")
    build_token_bloom_index(spark, tdir, app_idx, fields=["app"])
    df = read_pruned(spark, tdir, app_idx, "error")
    assert df.where(df._msg.contains("error")).count() == 3  # nothing lost

    # ...but an app-field phrase query prunes through the app sidecar
    pruned = read_pruned(spark, tdir, app_idx, 'app:web')
    assert set(pruned.inputFiles()) < set(
        spark.read.parquet(tdir).inputFiles()
    )
    assert pruned.count() == 3


def test_norm_path_file_uri(tmp_path):
    """register/lookup keys must agree between file: URIs and plain
    paths (abspath of a raw URI produced a cwd-dependent mangled key —
    r14 review finding)."""
    from victorialogs_spark.index.bloom import _norm_path

    assert _norm_path("file:///tmp/logs") == "/tmp/logs"
    assert _norm_path("file:/tmp/logs") == "/tmp/logs"
    assert _norm_path("/tmp/logs/") == "/tmp/logs"
    assert _norm_path("s3://bucket/x/") == "s3://bucket/x"


def test_heterogeneous_sidecar_prunes_soundly(spark, tmp_path):
    """A sidecar whose rows were built over DIFFERENT field sets
    (partial rebuild / append) must probe each file only with tokens of
    the fields that file indexed. Probing an app-only-indexed file with
    an _msg token would wrongly prune it — silent result loss (r15
    advice)."""
    table = str(tmp_path / "t")
    for msg, app in [("alpha request", "web"), ("beta refused", "db")]:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, tzinfo=UTC), msg, app)],
            "_time timestamp, _msg string, app string",
        )
        df.coalesce(1).write.mode("append").parquet(table)

    idx_msg = str(tmp_path / "idx_msg")
    idx_app = str(tmp_path / "idx_app")
    idx_het = str(tmp_path / "idx_het")
    build_token_bloom_index(spark, table, idx_msg, fields=["_msg"])
    build_token_bloom_index(spark, table, idx_app, fields=["app"])

    beta_file = (
        spark.read.parquet(table)
        .where(F.col("_msg").contains("beta"))
        .select(F.input_file_name())
        .first()[0]
    )
    # beta's file indexed ONLY app; the alpha file indexed _msg
    het = (
        spark.read.parquet(idx_msg)
        .where(F.col("file") != beta_file)
        .unionByName(
            spark.read.parquet(idx_app).where(F.col("file") == beta_file)
        )
    )
    het.coalesce(1).write.parquet(idx_het)

    # query on an _msg token that lives only in the app-indexed file:
    # that file must survive pruning; the _msg-indexed alpha file is
    # genuinely prunable
    pruned = read_pruned(spark, table, idx_het, "beta")
    got = {r["_msg"] for r in run_query(spark, pruned, "beta").collect()}
    assert got == {"beta refused"}
    assert len(pruned.inputFiles()) == 1  # alpha file still pruned

    # a field no sidecar row indexed is never prunable
    indexed, cands = candidate_files(
        spark, idx_het, tokens_by_field={"host": ["x"]}
    )
    assert cands == indexed and len(cands) == 2


def test_per_field_probe_local_matches_spark(spark, tmp_path, monkeypatch):
    """tokens_by_field probing: driver-side fast path must equal the
    distributed probe, for single-field, conjunctive, unindexed-field
    and empty probes."""
    from victorialogs_spark.index import local as L

    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_token_bloom_index(spark, table, index)

    for tbf in (
        {"_msg": ["beta"]},
        {"_msg": ["alpha", "gamma"]},
        {"app": ["web"]},  # field no row indexed: nothing prunable
        {},
    ):
        local = candidate_files(spark, index, tokens_by_field=tbf)
        monkeypatch.setattr(L, "LOCAL_INDEX_MAX_BYTES", 0)
        dist = candidate_files(spark, index, tokens_by_field=tbf)
        monkeypatch.undo()
        assert local == dist, tbf
    _, cands = candidate_files(spark, index, tokens_by_field={"app": ["x"]})
    assert len(cands) == 3
