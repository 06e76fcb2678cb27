"""Seeded log corpus with planted needles and precomputed answers.

The seed only moves things around: which filler words a message uses,
where inside a stream-day the needles sit, which user a payload names
and a sub-slot jitter on each timestamp. Row counts, stream sizes,
per-level counts, needle counts and the token set of every stream-day
are fixed, so the work a run does (and every sidecar prune) does not
depend on the seed, while the answers the workloads check are computed
here from the rows actually generated.
"""

from __future__ import annotations

import json
import random
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

DAY0_S = 1704067200  # 2024-01-01T00:00:00Z
DAY_NS = 86_400 * 10**9
APPS = ["api", "auth", "billing", "cart", "db", "edge", "front", "gateway"]
HOSTS = ["h1", "h2"]
# ten-slot level pattern: 7 info, 2 warn, 1 error per ten rows of a stream-day
LEVELS = ["info"] * 7 + ["warn"] * 2 + ["error"]
USERS = [f"u{i:02d}" for i in range(40)]
WORDS_PER_MSG = 6
# every stream-day uses each vocabulary word at least once, so each
# compacted file's token set (and bloom) is the same for every seed
VOCAB = [
    f"{a}{b}"
    for a in ("alpha", "bravo", "delta", "echo", "golf", "kilo", "lima",
              "mike", "oscar", "papa", "romeo", "tango")
    for b in ("req", "conn", "cache", "disk", "retry", "flush", "lock",
              "queue", "route", "token")
]


def day_str(day: int) -> str:
    """RFC3339 start of corpus day ``day``."""
    import datetime as dt

    t = dt.datetime.fromtimestamp(DAY0_S + day * 86_400, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


@dataclass
class Corpus:
    days: int
    rows_per_stream_day: int
    rows: list[dict] = field(default_factory=list)
    needles: dict[str, tuple[str, str, int, int]] = field(default_factory=dict)

    @property
    def streams(self) -> list[tuple[str, str]]:
        return [(a, h) for a in APPS for h in HOSTS]

    def ndjson_batches(self, n: int) -> list[str]:
        """The rows in time order, split into ``n`` equal NDJSON bodies
        (arrival order: each batch is the next slice of time)."""
        lines = [json.dumps(r, separators=(",", ":")) for r in self.rows]
        size = -(-len(lines) // n)
        return [
            "\n".join(lines[i : i + size]) + "\n"
            for i in range(0, len(lines), size)
        ]


def generate(
    seed: int, days: int, rows_per_stream_day: int, needles: int = 0
) -> Corpus:
    if rows_per_stream_day * WORDS_PER_MSG < len(VOCAB):
        raise ValueError("stream-day too small to cover the vocabulary")
    rng = random.Random(seed)
    c = Corpus(days, rows_per_stream_day)
    streams = c.streams
    n_slots = rows_per_stream_day * len(streams)
    gap_ns = DAY_NS // n_slots
    # needle k: one stream, one day, 3..7 rows; fixed by k, not the seed
    plant: dict[tuple[int, int], list[tuple[str, int]]] = {}
    for k in range(needles):
        name = f"needle{k:02d}"
        s, d, cnt = (k * 5) % len(streams), k % days, 3 + k % 5
        plant.setdefault((s, d), []).append((name, cnt))
        c.needles[name] = (*streams[s], d, cnt)
    for d in range(days):
        for s, (app, host) in enumerate(streams):
            words = []
            while len(words) < rows_per_stream_day * WORDS_PER_MSG:
                chunk = VOCAB[:]
                rng.shuffle(chunk)
                words.extend(chunk)
            levels = (LEVELS * (-(-rows_per_stream_day // len(LEVELS))))[
                :rows_per_stream_day
            ]
            rng.shuffle(levels)
            extra: dict[int, list[str]] = {}
            for name, cnt in plant.get((s, d), []):
                for i in rng.sample(range(rows_per_stream_day), cnt):
                    extra.setdefault(i, []).append(name)
            for i in range(rows_per_stream_day):
                slot = i * len(streams) + s
                t = (DAY0_S * 10**9 + d * DAY_NS + slot * gap_ns
                     + rng.randrange(gap_ns // 2))
                msg = words[i * WORDS_PER_MSG : (i + 1) * WORDS_PER_MSG]
                payload = {"user": rng.choice(USERS),
                           "dur": rng.randrange(1, 1000)}
                c.rows.append({
                    "_time": str(t),
                    "_msg": " ".join(msg + extra.get(i, [])),
                    "app": app,
                    "host": host,
                    "level": levels[i],
                    # a numeric field: compaction types it, so it always
                    # rewrites a day into stream-clustered files
                    "bytes": rng.randrange(100, 100_000),
                    "payload": json.dumps(payload, separators=(",", ":")),
                })
    c.rows.sort(key=lambda r: int(r["_time"]))
    return c


# ---------------------------------------------------------------------------
# query mixes and their answers. ``check`` takes the result rows as dicts
# and says whether they are the answer; numbers compare by value, since
# the library returns them typed and the HTTP surface as strings.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Read:
    cls: str
    query: str
    check: Callable[[list[dict]], bool]


def _grouped(keys: tuple[str, ...], val: str, want: dict) -> Callable:
    """Unordered grouped result: exactly ``want`` {key tuple: number}."""

    def check(rows: list[dict]) -> bool:
        got = {tuple(str(r.get(k, "")) for k in keys): float(r[val]) for r in rows}
        return len(got) == len(rows) and got == {
            k: float(v) for k, v in want.items()
        }

    return check


def _ordered(keys: tuple[str, ...], want: list[tuple]) -> Callable:
    def check(rows: list[dict]) -> bool:
        got = [tuple(str(r.get(k, "")) for k in keys) for r in rows]
        return got == [tuple(str(x) for x in w) for w in want]

    return check


def _day(r: dict) -> int:
    return (int(r["_time"]) - DAY0_S * 10**9) // DAY_NS


def pruned_reads(c: Corpus, variants: int) -> list[list[Read]]:
    """Rounds of (needle word, stream label, day range) queries, each of
    which keeps few of the table's files; the ``variants`` rounds cycle
    through different needles, streams and days."""
    by_stream_level = Counter((r["app"], r["host"], r["level"]) for r in c.rows)
    by_day_level = Counter((_day(r), r["level"]) for r in c.rows)
    names = sorted(c.needles)
    rounds = []
    for v in range(variants):
        needle = names[(v * 7) % len(names)]
        app, _, _, cnt = c.needles[needle]
        sa, sh = c.streams[(v * 3 + 1) % len(c.streams)]
        day = (v + 1) % c.days
        rounds.append([
            Read("needle", f"{needle} | stats by (app) count() as n",
                 _grouped(("app",), "n", {(app,): cnt})),
            Read("stream",
                 f'{{app="{sa}",host="{sh}"}} | stats by (level) count() as n',
                 _grouped(("level",), "n", {
                     (lv,): n for (a, h, lv), n in by_stream_level.items()
                     if (a, h) == (sa, sh)
                 })),
            Read("time",
                 f"_time:[{day_str(day)}, {day_str(day + 1)}) "
                 "| stats by (level) count() as n",
                 _grouped(("level",), "n", {
                     (lv,): n for (d, lv), n in by_day_level.items() if d == day
                 })),
        ])
    return rounds


def scan_reads(c: Corpus) -> list[Read]:
    """One round of analytics queries nothing can prune: grouped counts,
    a top-N over an unpacked JSON field, a global sort and day buckets."""
    apps_levels = Counter((r["app"], r["level"]) for r in c.rows)
    users = Counter(json.loads(r["payload"])["user"] for r in c.rows)
    top_hits = sorted(users.values(), reverse=True)[:5]
    newest = sorted(c.rows, key=lambda r: -int(r["_time"]))[:10]
    per_day = Counter(_day(r) for r in c.rows)

    def top_ok(rows: list[dict]) -> bool:
        # ties at the cut may pick either user; the hit counts may not
        return sorted((float(r["hits"]) for r in rows), reverse=True) == [
            float(n) for n in top_hits
        ] and all(float(r["hits"]) == users[r["user"]] for r in rows)

    def buckets_ok(rows: list[dict]) -> bool:
        return sorted(float(r["n"]) for r in rows) == sorted(
            float(n) for n in per_day.values()
        )

    return [
        Read("stats", "* | stats by (app, level) count() as n",
             _grouped(("app", "level"), "n", dict(apps_levels))),
        Read("top", "* | unpack_json from payload fields (user) "
             "| top 5 by (user)", top_ok),
        Read("sort", "* | sort by (_time desc) | limit 10 | fields app, host",
             _ordered(("app", "host"), [(r["app"], r["host"]) for r in newest])),
        Read("buckets", "* | stats by (_time:1d) count() as n", buckets_ok),
    ]
