"""Event-stream analytics: gap sessionization + hopping rollup vs
pure-Python twins and boundary fixtures."""

from __future__ import annotations

import datetime

from conftest import SF_TINY

from mmgraphrag_spark.operators import events as ev


def test_sessionize_matches_python_twin(spark):
    rows = ev.events_table(spark, SF_TINY).collect()
    gap = ev.SESSION_GAP_US
    by_user: dict[int, list] = {}
    epoch = datetime.datetime(1970, 1, 1)
    for r in rows:
        us = int((r.ts - epoch).total_seconds() * 1_000_000 + 0.5)
        by_user.setdefault(r.user_id, []).append((us, r.event_id))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        idx, prev = 0, None
        sessions: dict[int, list] = {}
        for us, _eid in evs:
            if prev is None or us - prev > gap:
                idx += 1
            prev = us
            sessions.setdefault(idx, []).append(us)
        for i, uss in sessions.items():
            want[(u, i)] = (len(uss), min(uss), max(uss), max(uss) - min(uss))
    got = {
        (r.user_id, r.session_idx): (
            r.n_events, r.first_us, r.last_us, r.duration_us
        )
        for r in ev.sessionize(ev.events_table(spark, SF_TINY)).collect()
    }
    assert got == want
    assert any(n > 1 for n, *_ in got.values())  # multi-event sessions exist


def test_sessionize_gap_boundary(spark):
    """An inter-event gap of EXACTLY gap_us stays in-session; gap_us + 1
    starts a new one."""
    t0 = datetime.datetime(2024, 1, 1)
    us = lambda n: t0 + datetime.timedelta(microseconds=n)  # noqa: E731
    gap = 1_000_000
    df = spark.createDataFrame(
        [
            (1, us(0), 7, "a", 0.0, "{}"),
            (2, us(gap), 7, "a", 0.0, "{}"),          # == gap: same session
            (3, us(2 * gap + 1), 7, "a", 0.0, "{}"),  # gap+1: new session
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    got = sorted(
        (r.session_idx, r.n_events)
        for r in ev.sessionize(df, gap_us=gap).collect()
    )
    assert got == [(1, 2), (2, 1)]


def test_hopping_rollup_matches_python_twin(spark):
    rows = ev.events_table(spark, SF_TINY).collect()
    epoch = datetime.datetime(1970, 1, 1)
    width, hop = 3_600_000_000, 900_000_000
    want: dict[tuple, list] = {}
    for r in rows:
        us = int((r.ts - epoch).total_seconds() * 1_000_000 + 0.5)
        cents = round(r.value * 100)
        last = us - us % hop
        for s in range(last - (width - hop), last + hop, hop):
            key = (s, r.event_type)
            want.setdefault(key, [0, set(), 0])
            want[key][0] += 1
            want[key][1].add(r.user_id)
            want[key][2] += cents
    got = {
        (r.win_start_us, r.event_type): (r.n_events, r.n_users, r.sum_value_cents)
        for r in ev.hopping_rollup(ev.events_table(spark, SF_TINY)).collect()
    }
    assert got == {k: (n, len(u), c) for k, (n, u, c) in want.items()}
    # every event lands in exactly width/hop windows
    assert sum(n for n, *_ in got.values()) == len(rows) * (width // hop)


def test_hopping_rollup_rejects_unaligned_hop(spark):
    import pytest

    with pytest.raises(ValueError):
        ev.hopping_rollup(ev.events_table(spark, SF_TINY), 100, 33)
