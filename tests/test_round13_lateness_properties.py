"""Pure-Python references for the round-13 lateness/watermark wave
(plans/lateness.py) — independent of both Spark and DuckDB, so a
shared engine misunderstanding cannot cancel out in the oracle parity
check. The jittered arrival derivation, the running event-time
frontier, the (delay x window) drop grid, the dedup-leakage rule and
the end-of-stream state sizing are all re-derived from the raw
parquet rows with plain dicts and a single in-memory sort (fine at
sf0.001; the ENGINE is what must avoid the global sort, not the
test)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import lateness as L
from tests.refs import half_up

SF = "/root/testdata/sf0.001"


def _h60(eid: int, salt: str) -> int:
    return int(
        hashlib.md5(f"{eid}{salt}".encode()).hexdigest()[:15], 16
    )


def _jit(eid: int) -> int:
    mag = _h60(eid, "lm")
    if _h60(eid, "lt") % L.TAIL_MOD == 0:
        return mag % (L.TAIL_MAX_US + 1)
    return mag % (L.BODY_MAX_US + 1)


@pytest.fixture(scope="module")
def events():
    con = duckdb.connect()
    return con.execute(
        f"SELECT event_id, epoch_us(ts), event_type "
        f"FROM '{SF}/events.parquet'"
    ).fetchall()


@pytest.fixture(scope="module")
def arrivals(events):
    """(event_id, us, arrival_us, event_type, run_max_us) — frontier
    via one global in-memory sort (the test-side luxury)."""
    rows = [
        (eid, us, us + _jit(eid), typ) for eid, us, typ in events
    ]
    out = []
    frontier = -1
    for eid, us, arr, typ in sorted(rows, key=lambda r: (r[2], r[0])):
        out.append((eid, us, arr, typ, frontier))
        frontier = max(frontier, us)
    return out


def test_lateness_grid_matches_python(spark, arrivals):
    got = {
        (r["delay_s"], r["window_s"]): r
        for r in QUERIES["events_lateness_watermark_grid"](
            spark, SF
        ).collect()
    }
    assert len(got) == len(L.WM_DELAYS_S) * len(L.WM_WINDOWS_S)
    for d in L.WM_DELAYS_S:
        for w in L.WM_WINDOWS_S:
            d_us, w_us = d * 1_000_000, w * 1_000_000
            n = len(arrivals)
            late = dropped = 0
            wins, dirty = set(), set()
            for _, us, _, _, fr in arrivals:
                wend = (us // w_us + 1) * w_us
                wins.add(wend)
                if fr - d_us > us:
                    late += 1
                if fr - d_us >= wend:
                    dropped += 1
                    dirty.add(wend)
            r = got[(d, w)]
            assert r["n_events"] == n
            assert r["n_late"] == late
            assert r["n_dropped"] == dropped
            assert r["drop_share"] == pytest.approx(
                half_up(dropped / n, 6), abs=1e-9
            )
            assert r["n_windows"] == len(wins)
            assert r["n_windows_dirty"] == len(dirty)
    # structural invariants: more delay or wider windows never drop
    # MORE; drops are a subset of late arrivals; the 1 h delay anchor
    # is exact (jitter never exceeds TAIL_MAX_US = 1 h, so nothing can
    # be behind a 1 h watermark)
    for w in L.WM_WINDOWS_S:
        drops = [got[(d, w)]["n_dropped"] for d in L.WM_DELAYS_S]
        assert drops == sorted(drops, reverse=True)
    for d in L.WM_DELAYS_S:
        by_w = [got[(d, w)]["n_dropped"] for w in sorted(L.WM_WINDOWS_S)]
        assert by_w == sorted(by_w, reverse=True)
        assert got[(d, L.WM_WINDOWS_S[0])]["n_dropped"] <= got[
            (d, L.WM_WINDOWS_S[0])
        ]["n_late"]
    assert got[(3600, L.WM_WINDOWS_S[0])]["n_late"] == 0
    # non-degeneracy: the derivation provably creates real drops
    assert got[(L.WM_DELAYS_S[0], L.WM_WINDOWS_S[0])]["n_dropped"] > 0


def _pct(sorted_vals, q):
    """percentile_cont / F.percentile linear interpolation."""
    n = len(sorted_vals)
    idx = (n - 1) * q
    lo = int(idx)
    hi = min(lo + 1, n - 1)
    frac = idx - lo
    return sorted_vals[lo] * (1 - frac) + sorted_vals[hi] * frac


def test_arrival_delay_profile_matches_python(spark, arrivals):
    got = {
        r["event_type"]: r
        for r in QUERIES["events_arrival_delay_profile"](
            spark, SF
        ).collect()
    }
    by_type = defaultdict(list)
    for _, us, arr, typ, fr in arrivals:
        by_type[typ].append(((arr - us) / 1e6, max(fr - us, 0)))
    assert set(got) == set(by_type)
    for typ, rows in by_type.items():
        delays = sorted(d for d, _ in rows)
        r = got[typ]
        assert r["n_events"] == len(rows)
        assert r["mean_delay_s"] == pytest.approx(
            half_up(sum(delays) / len(delays), 4), abs=1e-9
        )
        assert r["p50_delay_s"] == pytest.approx(
            half_up(_pct(delays, 0.5), 4), abs=1e-6
        )
        assert r["p95_delay_s"] == pytest.approx(
            half_up(_pct(delays, 0.95), 4), abs=1e-6
        )
        assert r["max_delay_s"] == pytest.approx(
            half_up(delays[-1], 4), abs=1e-9
        )
        ooo = sum(1 for _, b in rows if b > 0)
        assert r["ooo_share"] == pytest.approx(
            half_up(ooo / len(rows), 6), abs=1e-9
        )
        assert r["max_behind_s"] == pytest.approx(
            half_up(max(b for _, b in rows) / 1e6, 4), abs=1e-9
        )
        # the jitter mixture is visible: p95 within the tail bound,
        # p50 within the body bound
        assert r["p50_delay_s"] <= L.BODY_MAX_US / 1e6
        assert r["max_delay_s"] <= L.TAIL_MAX_US / 1e6


def test_dedup_audit_matches_python(spark, events):
    got = {
        r["delay_s"]: r
        for r in QUERIES["events_watermark_dedup_audit"](
            spark, SF
        ).collect()
    }
    # rebuild the union probe frame: originals contribute their event
    # time to the frontier; redeliveries are RE-STAMPED (event time =
    # redelivery arrival) so they contribute too — exactly the real
    # combined stream
    probes = []
    for eid, us, _ in events:
        arr = us + _jit(eid)
        probes.append((arr, 0, eid, us, None, us))
        if _h60(eid, "df") % L.DUP_MOD == 0:
            gap = _h60(eid, "dg") % (L.DUP_GAP_MAX_US + 1)
            probes.append((arr + gap, 1, eid, us, gap, arr + gap))
    rm_orig, dup_rows = {}, []
    frontier = -1
    for arr, kind, eid, us, gap, contrib in sorted(
        probes, key=lambda p: (p[0], p[1], p[2])
    ):
        if kind == 1:
            dup_rows.append((eid, us, contrib - us, frontier))
        else:
            rm_orig[eid] = frontier
        frontier = max(frontier, contrib)
    dups = [
        (us, et_gap, fr_dup, rm_orig[eid])
        for eid, us, et_gap, fr_dup in dup_rows
    ]
    assert len(got) == len(L.WM_DELAYS_S)
    for d in L.WM_DELAYS_S:
        d_us = d * 1_000_000
        within = sum(1 for _, g, _, _ in dups if g <= d_us)
        orig_late = sum(1 for us, _, _, fo in dups if fo - d_us > us)
        leaked = sum(
            1
            for us, _, fd, fo in dups
            if fo - d_us <= us and fd - d_us > us + d_us
        )
        r = got[d]
        assert r["n_dups"] == len(dups)
        assert r["n_within_delay"] == within
        assert r["n_orig_late"] == orig_late
        assert r["n_leaked"] == leaked
        assert r["leak_share"] == pytest.approx(
            half_up(leaked / len(dups), 6), abs=1e-9
        )
    # leakage decays with delay; the guarantee zone grows with delay;
    # a leak and a within-delay dedup are mutually exclusive
    leaks = [got[d]["n_leaked"] for d in L.WM_DELAYS_S]
    assert leaks == sorted(leaks, reverse=True)
    withins = [got[d]["n_within_delay"] for d in L.WM_DELAYS_S]
    assert withins == sorted(withins)
    assert leaks[0] > 0  # non-degenerate at the short delay
    for d in L.WM_DELAYS_S:
        assert got[d]["n_leaked"] + got[d]["n_within_delay"] <= got[d][
            "n_dups"
        ]


def test_open_state_matches_python(spark, events):
    got = {
        (r["delay_s"], r["window_s"]): r
        for r in QUERIES["events_watermark_open_state"](
            spark, SF
        ).collect()
    }
    uss = [us for _, us, _ in events]
    mx = max(uss)
    for d in L.WM_DELAYS_S:
        for w in L.WM_WINDOWS_S:
            d_us, w_us = d * 1_000_000, w * 1_000_000
            wm = mx - d_us
            wends = [(us // w_us + 1) * w_us for us in uss]
            open_w = {we for we in wends if we > wm}
            buffered = sum(1 for we in wends if we > wm)
            live = sum(1 for us in uss if us >= mx - 2 * d_us)
            r = got[(d, w)]
            assert r["n_open_windows"] == len(open_w)
            assert r["n_buffered_events"] == buffered
            assert r["buffered_share"] == pytest.approx(
                half_up(buffered / len(uss), 6), abs=1e-9
            )
            assert r["n_dedup_keys_live"] == live
            # state grows with delay, never exceeds the fact
            assert 1 <= r["n_open_windows"] <= len(set(wends))
