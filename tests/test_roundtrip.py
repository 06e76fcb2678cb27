"""Seeded-random round-trip / model-check property tests.

Each test builds ONE batch DataFrame of random cases (seeded — fully
deterministic) and verifies an invariant vectorized, so the whole property
check costs a single Spark job instead of one per example.
"""

import json
import random
import string

from victorialogs_spark.api import run_query

from test_engine import make_logs


def _rand_value(rng):
    alpha = string.ascii_letters + string.digits + ' _-./:="\\\t'
    return "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))


def test_pack_unpack_json_roundtrip(spark):
    rng = random.Random(11)
    rows = [{"a": _rand_value(rng), "b": _rand_value(rng)} for _ in range(60)]
    # drop cases where a value is empty — unpacked '' is indistinguishable
    # from a missing key (by design: empty ≡ missing)
    rows = [r for r in rows if r["a"] and r["b"]]
    df = make_logs(spark, rows)
    out = run_query(
        spark, df,
        "* | pack_json as pj fields (a, b)"
        " | delete a, b | unpack_json from pj | fields a, b",
    )
    got = sorted((r["a"], r["b"]) for r in out.collect())
    want = sorted((r["a"], r["b"]) for r in rows)
    assert got == want


def test_pack_unpack_logfmt_roundtrip(spark):
    rng = random.Random(13)
    rows = []
    for _ in range(60):
        v1 = _rand_value(rng).replace("\t", " ")
        v2 = _rand_value(rng).replace("\t", " ")
        if v1 and v2:
            rows.append({"a": v1, "b": v2})
    df = make_logs(spark, rows)
    out = run_query(
        spark, df,
        "* | pack_logfmt as lf fields (a, b)"
        " | delete a, b | unpack_logfmt from lf | fields a, b",
    )
    got = sorted((r["a"], r["b"]) for r in out.collect())
    want = sorted((r["a"], r["b"]) for r in rows)
    assert got == want


def test_ndjson_ingest_flatten_model(spark, tmp_path):
    from victorialogs_spark.functions.jsonflat import flatten_json_message
    from victorialogs_spark.sources.ndjson import ingest_ndjson_distributed

    rng = random.Random(17)
    objs = []
    for i in range(40):
        obj = {
            "_msg": f"m{i}",
            "s": _rand_value(rng).replace("\\", ""),
            "n": rng.randint(-5, 10**6),
            "f": round(rng.uniform(-10, 10), 3),
            "b": rng.random() < 0.5,
            "nested": {"x": rng.randint(0, 9), "y": {"z": f"deep{i}"}},
            "arr": [rng.randint(0, 9) for _ in range(3)],
        }
        objs.append(obj)
    p = tmp_path / "r.ndjson"
    p.write_text("\n".join(json.dumps(o) for o in objs) + "\n")
    df = ingest_ndjson_distributed(spark, str(p))
    got = {r["_msg"]: r.asDict() for r in df.collect()}
    for obj in objs:
        flat = flatten_json_message(json.dumps(obj), 128)
        row = got[obj["_msg"]]
        for k, v in flat.items():
            if k == "_time":
                continue
            assert row.get(k, row.get("_other", {}).get(k)) == v, (k, v, row)


def test_word_filter_matches_python_model(spark):
    rng = random.Random(23)
    vocab = ["err", "error", "errors", "disk", "disk1", "ok", "x_y", "42"]
    rows = []
    for _ in range(80):
        n = rng.randint(1, 5)
        sep = rng.choice([" ", "-", ".", ", "])
        rows.append({"_msg": sep.join(rng.choice(vocab) for _ in range(n))})
    df = make_logs(spark, rows)
    import re

    for word in ["error", "disk", "42", "x_y"]:
        out = run_query(spark, df, f'"{word}"')
        got = sorted(r["_msg"] for r in out.collect())
        pat = re.compile(
            rf"(?:^|[^0-9A-Za-z_]){re.escape(word)}(?:[^0-9A-Za-z_]|$)"
        )
        want = sorted(r["_msg"] for r in rows if pat.search(r["_msg"]))
        assert got == want, word
