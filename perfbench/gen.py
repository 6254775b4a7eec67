"""Seeded input generator for the pipeline benchmark.

Everything the engine receives in a benchmark run comes from here: the
movr-``rides`` changefeed batches (NDJSON envelope lines, the shape
CockroachDB's ``CREATE CHANGEFEED ... WITH updated`` lands) and an
sf0.1-shaped documents/embeddings corpus with its seeded edit rounds.
The generator also keeps the golden answers in plain Python, so the
benchmark checks the engine's outputs without a second engine.

Pure Python and Spark-free: the same seed gives byte-identical lines and
the same golden state on every host.
"""

from __future__ import annotations

import datetime
import itertools
import json
import math
import random
import struct
from dataclasses import dataclass
from decimal import Decimal

CITIES = (
    "amsterdam",
    "boston",
    "los angeles",
    "new york",
    "paris",
    "rome",
    "san francisco",
    "seattle",
    "washington dc",
)

#: 2022-12-12, the date directory of the reference's query
BASE_DATE = datetime.date(2022, 12, 12)
BASE_NS = 1_670_803_200 * 1_000_000_000
DAY_NS = 86_400 * 1_000_000_000


def date_dir(day: int) -> str:
    """``YYYY-MM-DD`` of ``day`` days after 2022-12-12."""
    return (BASE_DATE + datetime.timedelta(days=day)).isoformat()


def envelope(row: dict | None, key: list[str], updated_ns: int) -> str:
    """One changefeed line: full post-image (``null`` for a DELETE),
    primary key array and the decimal-nanosecond MVCC timestamp."""
    return json.dumps(
        {"after": row, "key": key, "updated": f"{updated_ns}.0000000000"},
        sort_keys=True,
    )


def zipf_cum_weights(n: int, s: float) -> list[float]:
    """Cumulative weights of ranks 1..n under Zipf exponent ``s``."""
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


@dataclass(frozen=True)
class RidesSpec:
    n_keys: int = 50_000
    boot_days: int = 4  # the bootstrap INSERTs spread over date dirs 0..3
    batch_events: int = 3000
    tombstone_frac: float = 0.05
    duplicate_frac: float = 0.02
    late_file_frac: float = 0.05
    zipf_s: float = 1.05
    batches_per_day: int = 4


@dataclass
class Batch:
    day: int  # date directory the file lands in (a late file: day - 1)
    late: bool
    lines: list[str]
    n_tombstones: int = 0
    n_duplicates: int = 0

    @property
    def text(self) -> str:
        return "\n".join(self.lines) + "\n"


class RidesFeed:
    """A movr ``rides`` changefeed over a fixed keyspace.

    ``bootstrap()`` emits one INSERT per key, spread over the first
    ``boot_days`` date directories; ``next_batch()`` then emits
    Zipf-skewed UPDATE/DELETE traffic into the following days, with exact
    duplicate re-emissions (at-least-once delivery) and whole files that
    land late, in the previous batch day's directory. ``live`` is the
    golden latest-per-key state: per key the event with the largest
    ``updated`` wins, and a winning tombstone removes the key. Batches
    must be drawn in order.
    """

    def __init__(self, seed: int, spec: RidesSpec = RidesSpec()):
        self.spec = spec
        self._rng = random.Random(f"rides/{seed}")
        self._ts = BASE_NS
        self._ids = [f"{seed % 65536:04x}-{i:08d}" for i in range(spec.n_keys)]
        self._city = {rid: CITIES[i % len(CITIES)] for i, rid in enumerate(self._ids)}
        # Zipf rank -> key: a seeded permutation spreads the hot keys
        # over cities and hash buckets
        self._by_rank = list(self._ids)
        self._rng.shuffle(self._by_rank)
        self._cum = zipf_cum_weights(spec.n_keys, spec.zipf_s)
        self._riders = max(2, spec.n_keys // 3)
        #: golden live state: id -> row image
        self.live: dict[str, dict] = {}
        self._prev_lines: list[str] = []
        self._n_batches = 0

    def _next_ts(self) -> int:
        self._ts += self._rng.randrange(1_000, 50_000)
        return self._ts

    def _image(self, rid: str) -> dict:
        return {
            "city": self._city[rid],
            "id": rid,
            "rider_id": f"r-{self._rng.randrange(self._riders):06d}",
            "revenue": round(self._rng.uniform(5.0, 120.0), 2),
        }

    def bootstrap(self) -> list[Batch]:
        """One INSERT per key, one batch per bootstrap date directory."""
        days = self.spec.boot_days
        per_day = -(-len(self._ids) // days)
        out = []
        for day in range(days):
            self._ts = max(self._ts, BASE_NS + day * DAY_NS)
            lines = []
            for rid in self._ids[day * per_day : (day + 1) * per_day]:
                row = self._image(rid)
                lines.append(envelope(row, [row["city"], rid], self._next_ts()))
                self.live[rid] = row
            out.append(Batch(day, False, lines))
        return out

    def next_batch(self) -> Batch:
        spec, rng = self.spec, self._rng
        idx = self._n_batches
        self._n_batches += 1
        day = spec.boot_days + idx // spec.batches_per_day
        self._ts = max(self._ts, BASE_NS + day * DAY_NS)
        keys = rng.choices(self._by_rank, cum_weights=self._cum, k=spec.batch_events)
        lines, n_tomb = [], 0
        for rid in keys:
            ts = self._next_ts()
            if rng.random() < spec.tombstone_frac:
                lines.append(envelope(None, [self._city[rid], rid], ts))
                self.live.pop(rid, None)
                n_tomb += 1
            else:
                row = self._image(rid)
                lines.append(envelope(row, [row["city"], rid], ts))
                self.live[rid] = row
        # at-least-once: exact re-emissions of this or the previous batch's
        # events, spliced in at random positions (an older duplicate of a
        # since-updated key must lose to the newer image)
        pool = lines + self._prev_lines
        n_dup = round(len(lines) * spec.duplicate_frac)
        for _ in range(n_dup):
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(pool))
        # late files go to the previous BATCH day, never into the
        # bootstrap days (raw scans read those as a fixed window)
        late = day > spec.boot_days and rng.random() < spec.late_file_frac
        self._prev_lines = lines
        return Batch(day - 1 if late else day, late, lines, n_tomb, n_dup)

    def live_rows(self) -> set[tuple]:
        """Golden live rows as ``(id, city, rider_id, revenue)`` tuples."""
        return {
            (r["id"], r["city"], r["rider_id"], r["revenue"]) for r in self.live.values()
        }


def revenue_by_city(lines) -> dict[str, Decimal]:
    """Exact per-city revenue over raw envelope lines, tombstones skipped:
    the reference query's answer computed without Spark."""
    out: dict[str, Decimal] = {}
    for line in lines:
        after = json.loads(line)["after"]
        if after is not None:
            out[after["city"]] = out.get(after["city"], Decimal(0)) + Decimal(
                repr(after["revenue"])
            )
    return out


def live_revenue_by_city(live: dict[str, dict], cities) -> dict[str, Decimal]:
    """Exact per-city revenue of the live rows, restricted to ``cities``."""
    out: dict[str, Decimal] = {}
    for row in live.values():
        if row["city"] in cities:
            out[row["city"]] = out.get(row["city"], Decimal(0)) + Decimal(
                repr(row["revenue"])
            )
    return out


# -- documents / embeddings (sf0.1 shape: 5000 docs, 2000 x 64 vectors) -----

_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v")
_VOWELS = ("a", "e", "i", "o", "u")
#: fixed 350-word vocabulary (seed-independent, so term queries stay
#: comparable across seeds)
VOCAB = tuple(
    o1 + v1 + o2 + v2
    for o1, v1, o2, v2 in itertools.islice(
        itertools.product(_ONSETS, _VOWELS, _ONSETS, _VOWELS), 0, 4900, 14
    )
)


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 2000
    n_vecs: int = 800
    dim: int = 64
    n_clusters: int = 16
    min_tokens: int = 10
    max_tokens: int = 100
    zipf_s: float = 1.0
    docs_per_round: int = 50
    vecs_per_round: int = 20
    insert_frac: float = 0.1


@dataclass
class Round:
    index: int
    docs: list[tuple[int, str]]  # upserted (doc_id, text)
    vecs: list[tuple[int, list[float]]]  # upserted (vec_id, embedding)
    terms: list[str]  # term query, query_id 0
    query_vec: list[float]  # vector query, query_id 0


class Corpus:
    """Seeded documents and embeddings with the shared-id convention
    (``vec_id`` = ``doc_id``) and per-round upserts. ``docs``/``vecs`` are
    the golden source heads after every round drawn so far."""

    def __init__(self, seed: int, spec: CorpusSpec = CorpusSpec()):
        self.spec = spec
        self._rng = random.Random(f"corpus/{seed}")
        self._cum = zipf_cum_weights(len(VOCAB), spec.zipf_s)
        rng = self._rng
        self._centroids = [
            [rng.gauss(0.0, 1.0) for _ in range(spec.dim)] for _ in range(spec.n_clusters)
        ]
        self.docs = {i: self._text() for i in range(spec.n_docs)}
        self.vecs = {i: self._vec() for i in range(spec.n_vecs)}
        self._next_id = spec.n_docs
        self._n_rounds = 0

    def _text(self) -> str:
        n = self._rng.randint(self.spec.min_tokens, self.spec.max_tokens)
        return " ".join(self._rng.choices(VOCAB, cum_weights=self._cum, k=n))

    def _vec(self) -> list[float]:
        rng = self._rng
        c = rng.choice(self._centroids)
        v = [x + rng.gauss(0.0, 0.35) for x in c]
        norm = math.sqrt(sum(x * x for x in v))
        # float32-exact values: the engine stores array<float>
        return [float(_f32(x / norm)) for x in v]

    def next_round(self) -> Round:
        spec, rng = self.spec, self._rng
        idx = self._n_rounds
        self._n_rounds += 1
        docs = []
        for doc_id in rng.sample(sorted(self.docs), spec.docs_per_round):
            if rng.random() < spec.insert_frac:
                doc_id = self._next_id
                self._next_id += 1
            docs.append((doc_id, self._text()))
        vecs = [(vid, self._vec()) for vid in rng.sample(sorted(self.vecs), spec.vecs_per_round)]
        for doc_id, text in docs:
            self.docs[doc_id] = text
        for vid, v in vecs:
            self.vecs[vid] = v
        # terms from the first 40 vocabulary words, where postings are long
        terms = rng.sample(VOCAB[:40], 2)
        probe = self.vecs[rng.choice(sorted(self.vecs))]
        query = [float(_f32(x + rng.gauss(0.0, 0.05))) for x in probe]
        return Round(idx, docs, vecs, terms, query)


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def window_globs(first_day: int, width: int) -> str:
    """One Hadoop glob over ``width`` consecutive date directories (the
    reference's single-glob form, README.md:182, widened with ``{a,b}``)."""
    days = ",".join(date_dir(d) for d in range(first_day, first_day + width))
    return "{" + days + "}"

