"""Time-series/statistics queries verified against hand-computed
pure-Python references on the real fixtures — independent of both
engines (the oracle parity check would miss a shared Spark/DuckDB
misunderstanding; these would not)."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.timeseries import (
    ATTRIB_WINDOW_S,
    EWMA_A,
    EWMA_N,
    OLS_X0,
    RESAMPLE_S,
    ROLL_N,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch(ts) AS t, event_id, event_type, value "
        f"FROM '{SF}/events.parquet' ORDER BY user_id, t, event_id"
    ).fetchall()
    con.close()
    return rows


def test_attribution_matches_python_sweep(spark, events):
    """Replay last-touch attribution with a per-user linear sweep."""
    per_user = defaultdict(list)
    for uid, t, eid, et, v in events:
        per_user[uid].append((t, eid, et, v))
    counts, revenue = defaultdict(int), defaultdict(float)
    for uid, rows in per_user.items():
        # deduped touches: per ts keep the max-event_id touch type
        touches = {}
        for t, eid, et, _v in rows:
            if et in ("click", "view"):
                if t not in touches or eid > touches[t][0]:
                    touches[t] = (eid, et)
        tlist = sorted(touches.items())
        for t, _eid, et, v in rows:
            if et != "purchase":
                continue
            last = None
            for tt, (_e, ty) in tlist:
                if tt <= t:
                    last = (tt, ty)
                else:
                    break
            ch = (
                last[1]
                if last and int(t) - int(last[0]) <= ATTRIB_WINDOW_S
                else "direct"
            )
            counts[ch] += 1
            revenue[ch] += v
    got = {
        r["channel"]: (r["n_purchases"], r["revenue"])
        for r in QUERIES["events_attribution_last_touch"](spark, SF).collect()
    }
    assert set(got) == set(counts)
    for ch in counts:
        assert got[ch][0] == counts[ch], ch
        assert abs(got[ch][1] - revenue[ch]) < 0.02, ch


def test_interpolation_is_linear_between_observations(spark, events):
    """Every unobserved bucket's value must lie exactly on the segment
    between its neighboring observed bucket averages."""
    obs = defaultdict(lambda: defaultdict(list))
    for uid, t, _eid, et, v in events:
        if et == "purchase":
            obs[uid][int(t // RESAMPLE_S) * RESAMPLE_S].append(v)
    rows = QUERIES["ts_resample_interpolate"](spark, SF).collect()
    by_user = defaultdict(dict)
    for r in rows:
        by_user[r["user_id"]][r["bucket_s"]] = (
            r["v_interp"],
            r["is_observed"],
        )
    n_checked = 0
    for uid, buckets in obs.items():
        got = by_user[uid]
        bks = sorted(buckets)
        # spine covers [min, max] densely
        assert sorted(got) == list(
            range(bks[0], bks[-1] + RESAMPLE_S, RESAMPLE_S)
        )
        means = {b: sum(vs) / len(vs) for b, vs in buckets.items()}
        for b, (v, is_obs) in got.items():
            if is_obs:
                assert abs(v - means[b]) < 1e-3
            else:
                prev = max(x for x in bks if x < b)
                nxt = min(x for x in bks if x > b)
                frac = (b - prev) / (nxt - prev)
                want = means[prev] + (means[nxt] - means[prev]) * frac
                assert abs(v - want) < 1e-3, (uid, b)
                n_checked += 1
    assert n_checked > 50  # the gap path is genuinely exercised


def test_rolling_ewma_matches_python(spark, events):
    got = {
        (r["user_id"], r["event_id"]): (
            r["roll_avg"],
            r["roll_max"],
            r["ewma"],
        )
        for r in QUERIES["ts_rolling_features"](spark, SF).collect()
    }
    per_user = defaultdict(list)
    for uid, t, eid, _et, v in events:
        per_user[uid].append((t, eid, v))
    for uid, rows in per_user.items():
        vals = [v for _t, _e, v in rows]
        for i, (_t, eid, _v) in enumerate(rows):
            frame = vals[max(0, i - ROLL_N + 1) : i + 1]
            eframe = vals[max(0, i - EWMA_N + 1) : i + 1]
            m = len(eframe)
            wsum = sum(x * EWMA_A ** (m - 1 - j) for j, x in enumerate(eframe))
            wden = sum(EWMA_A ** (m - 1 - j) for j in range(m))
            g = got[(uid, eid)]
            assert abs(g[0] - sum(frame) / len(frame)) < 1e-3
            assert abs(g[1] - max(frame)) < 1e-2
            assert abs(g[2] - wsum / wden) < 1e-3


def test_welch_and_ols_match_python(spark, events):
    purchases = [(uid, v) for uid, _t, _e, et, v in events if et == "purchase"]
    a = [v for uid, v in purchases if uid % 2 == 0]
    b = [v for uid, v in purchases if uid % 2 == 1]

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    va_n, vb_n = var(a) / len(a), var(b) / len(b)
    t_want = (sum(a) / len(a) - sum(b) / len(b)) / math.sqrt(va_n + vb_n)
    df_want = (va_n + vb_n) ** 2 / (
        va_n**2 / (len(a) - 1) + vb_n**2 / (len(b) - 1)
    )
    r = QUERIES["stats_ab_welch_ttest"](spark, SF).collect()[0]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert abs(r["t_stat"] - t_want) < 1e-3
    assert abs(r["welch_df"] - df_want) < 0.1

    # OLS per type against numpy-free closed form
    by_type = defaultdict(list)
    for uid, t, _e, et, v in events:
        by_type[et].append((int(t) - OLS_X0, v))
    ols = {
        r["event_type"]: (r["slope_per_day"], r["intercept"])
        for r in QUERIES["stats_groupwise_ols"](spark, SF).collect()
    }
    for et, pts in by_type.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert abs(ols[et][0] - slope * 86400) < 1e-4, et
        assert abs(ols[et][1] - (sy - slope * sx) / n) < 1e-2, et


