"""The benchmark's seeded generator: determinism, seed sensitivity, and
golden state checked against an independent replay and a hand case."""

from __future__ import annotations

import json
from decimal import Decimal

from perfbench import gen

TINY = gen.RidesSpec(n_keys=200, boot_days=2, batch_events=300, batches_per_day=2)


def _draw(seed: int, n_batches: int = 6, spec: gen.RidesSpec = TINY):
    feed = gen.RidesFeed(seed, spec)
    boot = feed.bootstrap()
    batches = [feed.next_batch() for _ in range(n_batches)]
    return feed, boot, batches


def replay_latest(lines) -> dict[str, dict]:
    """Independent golden state: per key the envelope with the largest
    ``updated`` wins; a winning tombstone removes the key."""
    best: dict[str, tuple[Decimal, dict | None]] = {}
    for line in lines:
        ev = json.loads(line)
        key = ev["key"][1]
        ts = Decimal(ev["updated"])
        if key not in best or ts > best[key][0]:
            best[key] = (ts, ev["after"])
    return {k: row for k, (_ts, row) in best.items() if row is not None}


def test_replay_latest_hand_case():
    lines = [
        gen.envelope({"city": "rome", "id": "a", "rider_id": "r1", "revenue": 1.5}, ["rome", "a"], 10),
        gen.envelope({"city": "rome", "id": "b", "rider_id": "r2", "revenue": 2.0}, ["rome", "b"], 11),
        gen.envelope({"city": "rome", "id": "a", "rider_id": "r1", "revenue": 9.0}, ["rome", "a"], 20),
        gen.envelope(None, ["rome", "b"], 21),
        # an at-least-once re-emission of a's older image arrives last
        gen.envelope({"city": "rome", "id": "a", "rider_id": "r1", "revenue": 1.5}, ["rome", "a"], 10),
        # a key deleted, then inserted again
        gen.envelope({"city": "paris", "id": "c", "rider_id": "r3", "revenue": 3.0}, ["paris", "c"], 12),
        gen.envelope(None, ["paris", "c"], 13),
        gen.envelope({"city": "paris", "id": "c", "rider_id": "r4", "revenue": 4.25}, ["paris", "c"], 30),
    ]
    assert replay_latest(lines) == {
        "a": {"city": "rome", "id": "a", "rider_id": "r1", "revenue": 9.0},
        "c": {"city": "paris", "id": "c", "rider_id": "r4", "revenue": 4.25},
    }
    assert gen.revenue_by_city(lines) == {
        "rome": Decimal("14.0"), "paris": Decimal("7.25"),
    }


def test_golden_state_matches_replay_of_every_line():
    feed, boot, batches = _draw(5, n_batches=10)
    lines = [ln for b in boot + batches for ln in b.lines]
    assert feed.live == replay_latest(lines)
    assert feed.live_rows() == {
        (r["id"], r["city"], r["rider_id"], r["revenue"]) for r in feed.live.values()
    }


def test_same_seed_is_byte_identical():
    f1, boot1, b1 = _draw(7)
    f2, boot2, b2 = _draw(7)
    assert [b.text for b in boot1 + b1] == [b.text for b in boot2 + b2]
    assert [(b.day, b.late) for b in b1] == [(b.day, b.late) for b in b2]
    assert f1.live == f2.live
    c1, c2 = gen.Corpus(7, gen.CorpusSpec(n_docs=50, n_vecs=20)), gen.Corpus(
        7, gen.CorpusSpec(n_docs=50, n_vecs=20)
    )
    assert c1.docs == c2.docs and c1.vecs == c2.vecs
    assert c1.next_round() == c2.next_round()


def test_different_seed_gives_different_batches():
    _f1, boot1, b1 = _draw(7)
    _f2, boot2, b2 = _draw(8)
    assert boot1[0].text != boot2[0].text
    assert all(x.text != y.text for x, y in zip(b1, b2))
    spec = gen.CorpusSpec(n_docs=50, n_vecs=20)
    assert gen.Corpus(7, spec).docs != gen.Corpus(8, spec).docs


def test_feed_shape():
    spec = gen.RidesSpec(n_keys=2000, boot_days=2, batch_events=1000, batches_per_day=2)
    feed, boot, batches = _draw(3, n_batches=60, spec=spec)
    assert [b.day for b in boot] == [0, 1]
    assert sum(len(b.lines) for b in boot) == spec.n_keys
    events = sum(len(b.lines) - b.n_duplicates for b in batches)
    assert 0.04 < sum(b.n_tombstones for b in batches) / events < 0.06
    for b in batches:
        assert b.n_duplicates == round((len(b.lines) - b.n_duplicates) * spec.duplicate_frac)
        assert len(set(b.lines)) < len(b.lines)  # exact re-emissions
        assert b.day >= spec.boot_days  # late files never reach bootstrap days
    late = [b for b in batches if b.late]
    assert 0 < len(late) < 10
    # Zipf skew: the hottest key is updated far more often than the median key
    counts: dict[str, int] = {}
    for b in batches:
        for ln in b.lines:
            k = json.loads(ln)["key"][1]
            counts[k] = counts.get(k, 0) + 1
    ranked = sorted(counts.values(), reverse=True)
    assert ranked[0] > 20 * ranked[len(ranked) // 2]


def test_window_glob_names_consecutive_date_dirs():
    assert gen.date_dir(0) == "2022-12-12"
    assert gen.window_globs(1, 2) == "{2022-12-13,2022-12-14}"


def test_corpus_rounds_upsert_the_golden_heads():
    c = gen.Corpus(4, gen.CorpusSpec(n_docs=100, n_vecs=40))
    r = c.next_round()
    assert len(r.docs) == c.spec.docs_per_round and len(r.vecs) == c.spec.vecs_per_round
    assert all(c.docs[d] == t for d, t in r.docs)
    assert all(c.vecs[v] == e for v, e in r.vecs)
    assert all(len(e) == c.spec.dim for _v, e in r.vecs)
    assert len(r.query_vec) == c.spec.dim and len(r.terms) == 2
