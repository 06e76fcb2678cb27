"""The benchmark's workloads. Each takes a :class:`Ctx` and fills in
its measurements; ``run.py`` turns them into the result line.

Every operation is closed-loop (the next one starts when the previous
returned) and every read is checked against the answer the corpus
generator kept. Operation counts are fixed per run: a fixed number of
warm-up rounds of the workload's own read mix carries the JIT past its
transient and counts in ``setup_s``; the timed rounds interleave the
query classes round-robin, so host wander hits every class alike.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

import corpus
import spans as tr


@dataclass
class Ctx:
    seed: int
    seconds: int
    traced: bool
    work: str  # scratch directory inside the checkout
    t_start: float  # perf_counter at process start
    spark_conf: dict[str, str]
    tracer: tr.Tracer = field(init=False)
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    # (windows, reads, rows returned, GC ms) for the Spark counters,
    # read from the event log once the session has stopped
    spark_windows: tuple | None = None
    # the serve writer thread counts its posts alongside the reader
    _count_lock: threading.Lock = field(default_factory=threading.Lock)

    def __post_init__(self):
        self.tracer = tr.Tracer(self.traced)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def checked(self, ok: bool) -> None:
        with self._count_lock:
            self.attempted += 1
            self.failed += 0 if ok else 1


def _p(values: list[float], q: int) -> float:
    """q-th percentile (statistics.quantiles, exclusive method)."""
    return statistics.quantiles(values, n=100)[q - 1]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _start_session(ctx: Ctx):
    from victorialogs_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=ctx.spark_conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.layers["session.start_s"] = time.perf_counter() - t
    # import every engine module a workload reaches before wrapping, so
    # each module-level binding of a traced call gets the wrapper
    import victorialogs_spark.api  # noqa: F401
    import victorialogs_spark.http_server  # noqa: F401
    import victorialogs_spark.index.streams  # noqa: F401

    if ctx.traced:
        ctx.tracer.install()
    return spark


def _traced_turn(round_no: int, i: int) -> bool:
    """Traced runs record spans on every other read, switching the
    phase each round so every query class is read both ways; the
    difference of the two medians is the tracing overhead."""
    return (round_no + i) % 2 == 0


def _tracing_overhead(turns: list[tuple[str, float, bool]]) -> float:
    """Mean over query classes of (median traced read - median untraced
    read), ms; per class, because the classes differ in cost and an odd
    round count reads some classes traced more often."""
    diffs = []
    for cls in {c for c, _, _ in turns}:
        on = [ms for c, ms, t in turns if c == cls and t]
        off = [ms for c, ms, t in turns if c == cls and not t]
        diffs.append(statistics.median(on) - statistics.median(off))
    return statistics.mean(diffs)


def _read_stats(ctx: Ctx, wall_ms: list[float], phase_s: float) -> None:
    ctx.metrics["read_p50_ms"] = statistics.median(wall_ms)
    ctx.metrics["read_p90_ms"] = _p(wall_ms, 90)
    ctx.metrics["read_ops_per_s"] = len(wall_ms) / phase_s
    ctx.detail["read_samples"] = len(wall_ms)


def _finish(ctx: Ctx, jvm: int) -> None:
    """Record peak RSS of this process plus the JVM, read before the JVM
    exits, then stop the engine."""
    ctx.metrics["peak_rss_mb"] = tr.vm_hwm_mb() + tr.vm_hwm_mb(jvm)
    stop_engine()


def stop_engine() -> None:
    """Stop the active Spark session, if any, and wait for its JVM (and
    with it the Python workers the JVM forked) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    proc = sc._gateway.proc
    sc.stop()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _read_layers(ctx: Ctx, roots: set[int], traced_ms: list[float],
                 names: dict[str, str]) -> None:
    """Per-read self time (ms) of each layer on the read path over the
    traces in ``roots``, and the residual: the mean traced read wall
    time those self times leave unexplained."""
    self_ms = ctx.tracer.self_ms(roots)
    n = len(traced_ms)
    for span_name, metric in names.items():
        ctx.layers[metric] = self_ms.get(span_name, 0.0) / n
    ctx.layers["read.residual_ms"] = statistics.mean(traced_ms) - sum(
        ctx.layers[m] for m in names.values()
    )


def spark_layers(ctx: Ctx, counters: dict, reads: int, rows_out: int,
                 gc_ms: float) -> None:
    """Per-read Spark and JVM counters of the timed read phase."""
    c = counters
    ctx.layers["spark.jobs"] = c["jobs"] / reads
    ctx.layers["spark.tasks"] = c["tasks"] / reads
    ctx.layers["spark.shuffle_read_mb"] = c["shuffle_read_bytes"] / 2**20 / reads
    ctx.layers["spark.spill_mb"] = c["spill_bytes"] / 2**20 / reads
    ctx.layers["spark.files_read"] = c["files_read"] / reads
    ctx.layers["spark.rows_scanned_per_row_returned"] = c["input_records"] / max(
        1, rows_out
    )
    ctx.layers["jvm.gc_ms_per_op"] = gc_ms / reads


# ---------------------------------------------------------------------------
# query_pruned: bulk write path, then reads the sidecars prune
# ---------------------------------------------------------------------------

PRUNED_DAYS = 4
PRUNED_ROWS_PER_STREAM_DAY = 375  # 4 days x 16 streams x 375 = 24,000 rows
PRUNED_BATCHES = 4  # one per day, in time order
PRUNED_FILES_PER_DAY = 4
PRUNED_WARM_ROUNDS = 4
PRUNED_ROUNDS_PER_S = 2.0  # timed rounds of 3 reads per --seconds
STREAM_FIELDS = ["app", "host"]


def query_pruned(ctx: Ctx) -> None:
    from victorialogs_spark import api
    from victorialogs_spark.index import bloom, streams
    from victorialogs_spark.sources import ndjson
    from victorialogs_spark.streaming import ingest

    spark = _start_session(ctx)
    jvm = tr.jvm_pid(spark)
    c = corpus.generate(ctx.seed, PRUNED_DAYS, PRUNED_ROWS_PER_STREAM_DAY,
                        needles=24)
    warm = corpus.generate(ctx.seed + 1, 1, 30, needles=1)
    os.makedirs(ctx.path("in"))

    def write_batches(name: str, corp: corpus.Corpus, n: int) -> list[str]:
        paths = []
        for i, body in enumerate(corp.ndjson_batches(n)):
            paths.append(ctx.path("in", f"{name}-{i}.ndjson"))
            with open(paths[-1], "w") as fh:
                fh.write(body)
        return paths

    batches = write_batches("batch", c, PRUNED_BATCHES)
    warm_batch = write_batches("warm", warm, 1)[0]
    input_bytes = sum(os.path.getsize(b) for b in batches)

    def append(table: str, path: str) -> float:
        t = time.perf_counter()
        with ctx.tracer.span("write"):
            df = ndjson.ingest_ndjson_distributed(
                spark, path, stream_fields=STREAM_FIELDS
            )
            ingest.append_day_partitioned(df, table)
        return (time.perf_counter() - t) * 1e3

    # one throwaway append starts the Python workers and runs the write
    # path's first jobs; it counts in setup_s
    ctx.tracer.enabled = False
    append(ctx.path("warm"), warm_batch)
    ctx.tracer.enabled = ctx.traced

    # the write phase: batches, then compaction and both sidecars
    table = ctx.path("table")
    t_w0 = time.perf_counter()
    n_spans = len(ctx.tracer.spans)
    write_ms = [append(table, path) for path in batches]
    appended_bytes = _dir_bytes(table)
    ingest.compact_table(spark, table, target_files=PRUNED_FILES_PER_DAY,
                         type_columns=True)
    streams.build_stream_index(spark, table, table + "_streams",
                               fields=STREAM_FIELDS)
    bloom.build_token_bloom_index(spark, table, table + "_bloom")
    streams.register_stream_index(table, table + "_streams")
    bloom.register_bloom_index(table, table + "_bloom")
    write_s = time.perf_counter() - t_w0
    write_roots = {s.trace for s in ctx.tracer.spans[n_spans:]}
    table_bytes = _dir_bytes(table)
    sidecar_bytes = _dir_bytes(table + "_streams") + _dir_bytes(table + "_bloom")
    ctx.metrics["write_p50_ms"] = statistics.median(write_ms)
    ctx.metrics["write_rows_per_s"] = len(c.rows) / write_s
    ctx.metrics["stored_bytes_per_input_byte"] = (
        table_bytes + sidecar_bytes
    ) / input_bytes
    ctx.detail["write_samples"] = len(write_ms)

    rounds = corpus.pruned_reads(c, variants=8)

    def read(r: corpus.Read) -> tuple[float, int]:
        t = time.perf_counter()
        with ctx.tracer.span("read"):
            df = api.run_query(spark, table, r.query)
            with ctx.tracer.span("spark.action"):
                rows = [row.asDict() for row in df.collect()]
            ok = r.check(rows)
        ms = (time.perf_counter() - t) * 1e3
        ctx.checked(ok)
        return ms, len(rows)

    for i in range(PRUNED_WARM_ROUNDS):
        for r in rounds[i % len(rounds)]:
            read(r)
    setup_s = (t_w0 - ctx.t_start) + (time.perf_counter() - t_w0 - write_s)

    n_rounds = max(2, round(ctx.seconds * PRUNED_ROUNDS_PER_S))
    wall_ms, traced_ms, turns, rows_out = [], [], [], 0
    gc0 = tr.jvm_gc_ms(spark) if ctx.traced else 0.0
    n_spans = len(ctx.tracer.spans)
    t_r0, e_r0 = time.perf_counter(), time.time()
    for i in range(n_rounds):
        for j, r in enumerate(rounds[i % len(rounds)]):
            ctx.tracer.enabled = ctx.traced and _traced_turn(i, j)
            ms, n = read(r)
            wall_ms.append(ms)
            rows_out += n
            turns.append((r.cls, ms, ctx.tracer.enabled))
            if ctx.tracer.enabled:
                traced_ms.append(ms)
    ctx.tracer.enabled = False
    roots = {s.trace for s in ctx.tracer.spans[n_spans:]}
    read_s = time.perf_counter() - t_r0
    e_r1 = time.time()
    _read_stats(ctx, wall_ms, read_s)
    ctx.metrics["setup_s"] = setup_s
    ctx.detail["read_ms"] = [round(x) for x in wall_ms]
    ctx.detail["write_ms"] = [round(x) for x in write_ms]
    ctx.detail["write_s"] = write_s

    if ctx.traced:
        gc_ms = tr.jvm_gc_ms(spark) - gc0
        _read_layers(ctx, roots, traced_ms, {
            "logsql.parse": "logsql.parse_ms",
            "index.open": "index.open_ms",
            "planner.plan": "planner.plan_ms",
            "spark.action": "spark.action_ms",
            "api": "api.self_ms",
        })
        ctx.layers["read.traced_p50_ms"] = statistics.median(traced_ms)
        ctx.layers["trace.overhead_ms"] = _tracing_overhead(turns)
        # exact prune counts per query (deterministic; outside the timing)
        total = len(spark.read.parquet(table).inputFiles())
        kept = [
            len(bloom.open_log_table(spark, table, r.query).inputFiles())
            for i in range(n_rounds) for r in rounds[i % len(rounds)]
        ]
        ctx.layers["index.files_total"] = float(total)
        ctx.layers["index.files_kept"] = sum(kept) / len(kept)
        ctx.layers["index.kept_ratio"] = sum(kept) / (total * len(kept))
        w_self = ctx.tracer.self_ms(write_roots)
        ctx.layers["sources.parse_ms"] = w_self.get("sources.parse", 0.0) / len(batches)
        ctx.layers["streaming.append_ms"] = w_self.get("streaming.append", 0.0) / len(batches)
        ctx.layers["streaming.compact_s"] = w_self.get("streaming.compact", 0.0) / 1e3
        ctx.layers["index.build_s"] = w_self.get("index.build", 0.0) / 1e3
        ctx.layers["index.sidecar_bytes"] = float(sidecar_bytes)
        ctx.layers["streaming.bytes_written_per_input_byte"] = (
            appended_bytes + table_bytes
        ) / input_bytes
        ctx.spark_windows = ({"read": (e_r0, e_r1)}, len(wall_ms), rows_out, gc_ms)
    _finish(ctx, jvm)


# ---------------------------------------------------------------------------
# serve_mixed: HTTP reads of an unprunable analytics mix against a
# concurrent writer posting small NDJSON batches
# ---------------------------------------------------------------------------

SERVE_DAYS = 4
SERVE_ROWS_PER_STREAM_DAY = 375  # 24,000 preloaded rows
SERVE_POST_ROWS = 250
SERVE_WARM_ROUNDS = 2
SERVE_ROUNDS_PER_S = 0.5  # timed rounds of 4 reads per --seconds
SERVE_POSTS_PER_ROUND = 3
# flush policy pinned for the run, so several flush -> migrate -> compact
# cycles fit in it: a flush every 2 posts, a migration every 2 flushes,
# a day rewrite once it holds 3 table files
SERVE_POLICY = {"CHECKPOINT_EVERY": 2, "MIGRATE_FILES": 2, "COMPACT_FILES": 3}
WRITER_TENANT = {"AccountID": "1", "ProjectID": "0"}


def _http(port: int, method: str, path: str, body: bytes | None = None,
          headers: dict | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=body, headers=headers or {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _metric_total(text: str, name: str) -> int:
    return sum(
        int(line.rsplit(" ", 1)[1])
        for line in text.splitlines()
        if line.startswith(name + "{")
    )


def serve_mixed(ctx: Ctx) -> None:
    from victorialogs_spark import http_server, schema
    from victorialogs_spark.streaming import ingest

    spark = _start_session(ctx)
    jvm = tr.jvm_pid(spark)
    ctx.tracer.enabled = False  # spans only in the timed rounds
    c = corpus.generate(ctx.seed, SERVE_DAYS, SERVE_ROWS_PER_STREAM_DAY)
    os.makedirs(ctx.path("in"))
    src = ctx.path("in", "preload.ndjson")
    with open(src, "w") as fh:
        fh.write(c.ndjson_batches(1)[0])
    table = ctx.path("table")
    # preloaded through the same driver-side NDJSON parser the server's
    # /insert/jsonline uses
    with open(src) as fh:
        parsed = schema.ingest_ndjson(spark, fh.read().splitlines(),
                                      stream_fields=STREAM_FIELDS)
    ingest.append_day_partitioned(parsed, table)
    spill = ctx.path("spill")
    srv = http_server.serve(spark, spark.read.parquet(table), spill_dir=spill)
    for k, v in SERVE_POLICY.items():
        setattr(srv.state, k, v)
    port = srv.port
    mix = corpus.scan_reads(c)
    n_rounds = max(2, round(ctx.seconds * SERVE_ROUNDS_PER_S))
    n_posts = (SERVE_WARM_ROUNDS + n_rounds) * SERVE_POSTS_PER_ROUND
    # the writer's rows: a different tenant and later days, so every
    # read's answer stays that of the preloaded corpus
    posted = corpus.generate(ctx.seed + 1, 1, -(-n_posts * SERVE_POST_ROWS // 16))
    for r in posted.rows:
        r["_time"] = str(int(r["_time"]) + 10 * corpus.DAY_NS)
    post_lines = [json.dumps(r, separators=(",", ":")) for r in posted.rows]
    bodies = [
        ("\n".join(post_lines[i : i + SERVE_POST_ROWS]) + "\n").encode()
        for i in range(0, len(post_lines), SERVE_POST_ROWS)
    ][:n_posts]
    post_path = "/insert/jsonline?" + urllib.parse.urlencode(
        {"_stream_fields": ",".join(STREAM_FIELDS)}
    )
    seen_flat: set[str] = set()
    seen_migrations: set[tuple[str, ...]] = set()
    manifest = os.path.join(spill, "_MANIFEST.json")

    def note_manifest() -> None:
        try:
            with open(manifest) as fh:
                m = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return
        seen_flat.update(m.get("flat_files", []))
        seen_flat.update(m.get("migrated_flat", []))
        if m.get("migrated_flat"):
            seen_migrations.add(tuple(m["migrated_flat"]))

    rows_out = 0

    def read(r: corpus.Read) -> float:
        nonlocal rows_out
        t = time.perf_counter()
        with ctx.tracer.span("read"):
            status, body = _http(
                port, "GET",
                "/select/logsql/query?" + urllib.parse.urlencode({"query": r.query}),
            )
            rows = [json.loads(x) for x in body.splitlines() if x.strip()]
            ok = status == 200 and r.check(rows)
        rows_out += len(rows)
        ctx.checked(ok)
        return (time.perf_counter() - t) * 1e3

    def post(body: bytes) -> float:
        t = time.perf_counter()
        with ctx.tracer.span("write"):
            status, _ = _http(port, "POST", post_path, body,
                              {"Content-Type": "application/x-ndjson",
                               **WRITER_TENANT})
        ctx.checked(status == 200)
        note_manifest()
        return (time.perf_counter() - t) * 1e3

    def writer(out: list[float], todo: list[bytes]) -> None:
        for b in todo:
            out.append(post(b))

    def phase(rounds: int, todo: list[bytes], alternate: bool):
        """Rounds of the read mix, each alongside its share of posts; a
        round ends when both sides are done, so every round sees the
        same contention."""
        reads_ms: list[float] = []
        traced_ms: list[float] = []
        turns: list[tuple[str, float, bool]] = []
        writes_ms: list[float] = []
        for i in range(rounds):
            share = todo[i * SERVE_POSTS_PER_ROUND : (i + 1) * SERVE_POSTS_PER_ROUND]
            w = threading.Thread(target=writer, args=(writes_ms, share))
            w.start()
            try:
                for j, r in enumerate(mix):
                    ctx.tracer.enabled = alternate and _traced_turn(i, j)
                    reads_ms.append(read(r))
                    turns.append((r.cls, reads_ms[-1], ctx.tracer.enabled))
                    if ctx.tracer.enabled:
                        traced_ms.append(reads_ms[-1])
            finally:
                w.join()
        return reads_ms, traced_ms, turns, writes_ms

    warm_n = SERVE_WARM_ROUNDS * SERVE_POSTS_PER_ROUND
    phase(SERVE_WARM_ROUNDS, bodies[:warm_n], alternate=False)
    setup_s = time.perf_counter() - ctx.t_start

    status, m0 = _http(port, "GET", "/metrics")
    flat0, migr0 = len(seen_flat), len(seen_migrations)
    gc0 = tr.jvm_gc_ms(spark) if ctx.traced else 0.0
    t0, e0 = time.perf_counter(), time.time()
    reads_ms, traced_ms, turns, writes_ms = phase(
        n_rounds, bodies[warm_n:], alternate=ctx.traced
    )
    phase_s = time.perf_counter() - t0
    ctx.tracer.enabled = False
    t_d = time.perf_counter()
    idle = srv.state.wait_idle(timeout=60)
    drain_s = time.perf_counter() - t_d
    e1 = time.time()
    note_manifest()
    status, m1 = _http(port, "GET", "/metrics")

    # every posted row is readable under the writer's tenant
    status, body = _http(
        port, "GET",
        "/select/logsql/query?" + urllib.parse.urlencode(
            {"query": "* | stats count() as n"}),
        headers=WRITER_TENANT,
    )
    n_posted = sum(b.count(b"\n") for b in bodies)
    got = [json.loads(x) for x in body.splitlines() if x.strip()]
    ctx.checked(idle and status == 200 and len(got) == 1
                and int(got[0]["n"]) == n_posted)

    _read_stats(ctx, reads_ms, phase_s)
    ctx.metrics["setup_s"] = setup_s
    ctx.detail["read_ms"] = [round(x) for x in reads_ms]
    ctx.detail["write_ms"] = [round(x) for x in writes_ms]
    ctx.detail["phase_s"] = phase_s
    ctx.detail["drain_s"] = drain_s
    ctx.metrics["write_p50_ms"] = statistics.median(writes_ms)
    ctx.metrics["write_rows_per_s"] = (
        len(writes_ms) * SERVE_POST_ROWS / phase_s
    )
    ctx.metrics["stored_bytes_per_input_byte"] = (
        _dir_bytes(table) + _dir_bytes(spill)
    ) / (os.path.getsize(src) + sum(len(b) for b in bodies))
    ctx.detail["write_samples"] = len(writes_ms)

    if ctx.traced:
        gc_ms = tr.jvm_gc_ms(spark) - gc0
        reads = len(reads_ms)
        roots = {s.trace for s in ctx.tracer.spans}
        # the server parses and plans on its handler threads; the
        # residual is HTTP, result streaming and the Spark action
        _read_layers(ctx, roots, traced_ms, {
            "logsql.parse": "logsql.parse_ms",
            "planner.plan": "planner.plan_ms",
        })
        self_ms = ctx.tracer.self_ms(roots)
        posts = sum(1 for s in ctx.tracer.spans if s.name == "write")
        ctx.layers["sources.parse_ms"] = self_ms.get("sources.parse", 0.0) / posts
        appends = [s for s in ctx.tracer.spans if s.name == "streaming.append"]
        ctx.layers["streaming.append_ms"] = (
            statistics.mean((s.end - s.start) * 1e3 for s in appends)
            if appends else 0.0
        )
        ctx.layers["read.traced_p50_ms"] = statistics.median(traced_ms)
        ctx.layers["trace.overhead_ms"] = _tracing_overhead(turns)
        ctx.layers["http_server.requests"] = float(
            _metric_total(m1.decode(), "vl_http_requests_total")
            - _metric_total(m0.decode(), "vl_http_requests_total")
        )
        ctx.layers["http_server.errors"] = float(
            _metric_total(m1.decode(), "vl_http_errors_total")
            - _metric_total(m0.decode(), "vl_http_errors_total")
        )
        ctx.layers["http_server.flushes"] = float(len(seen_flat) - flat0)
        ctx.layers["http_server.migrations"] = float(
            len(seen_migrations) - migr0
        )
        ctx.layers["http_server.compactions"] = float(
            _metric_total(m1.decode(), "vl_spill_compactions_total")
            - _metric_total(m0.decode(), "vl_spill_compactions_total")
        )
        ctx.layers["http_server.drain_s"] = drain_s
        ctx.spark_windows = ({"read": (e0, e1)}, reads, rows_out, gc_ms)
    srv.stop()
    _finish(ctx, jvm)


WORKLOADS = {"query_pruned": query_pruned, "serve_mixed": serve_mixed}
