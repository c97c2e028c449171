"""Time-series operator tests: gap-fill spine/interpolation invariants
and EWMA smoothing semantics (the hash-oracle checks values; these
check meaning)."""

from __future__ import annotations

import pandas as pd
import pytest

from mongo_cdc_spark.operators import timeseries


def test_gapfill_spine_is_contiguous_hourly(spark, sf_dir):
    got = timeseries.ts_gapfill_interpolate(spark, sf_dir).toPandas()
    for _, g in got.groupby("event_type"):
        hours = g.h.sort_values()
        deltas = hours.diff().dropna()
        assert (deltas == pd.Timedelta(hours=1)).all()
        # spine spans exactly [first obs, last obs]
        obs = g[g.fill_kind == "obs"]
        assert hours.iloc[0] == obs.h.min()
        assert hours.iloc[-1] == obs.h.max()


def test_gapfill_fill_values_bounded_by_neighbours(spark, sf_dir):
    got = (timeseries.ts_gapfill_interpolate(spark, sf_dir)
           .toPandas().sort_values(["event_type", "h"]))
    assert got.v_filled.notna().all()
    assert (got.loc[got.fill_kind != "obs", "n_obs"] == 0).all()
    assert (got.loc[got.fill_kind == "obs", "n_obs"] > 0).all()
    for _, g in got.groupby("event_type"):
        obs_v = g.loc[g.fill_kind == "obs", "v_filled"]
        lo, hi = obs_v.min(), obs_v.max()
        # linear interpolation can never leave the observed envelope
        filled = g.loc[g.fill_kind != "obs", "v_filled"]
        assert ((filled >= lo - 1e-5) & (filled <= hi + 1e-5)).all()


def test_gapfill_interp_between_neighbour_values(spark, sf_dir):
    got = (timeseries.ts_gapfill_interpolate(spark, sf_dir)
           .toPandas().sort_values(["event_type", "h"]))
    for _, g in got.groupby("event_type"):
        g = g.reset_index(drop=True)
        obs_idx = g.index[g.fill_kind == "obs"]
        for i in g.index[g.fill_kind == "interp"]:
            prev = obs_idx[obs_idx < i].max()
            nxt = obs_idx[obs_idx > i].min()
            lo = min(g.v_filled[prev], g.v_filled[nxt])
            hi = max(g.v_filled[prev], g.v_filled[nxt])
            assert lo - 1e-5 <= g.v_filled[i] <= hi + 1e-5


def test_ewma_tracks_constant_series_exactly(spark, sf_dir):
    """On any series the first EWMA equals the first day total; on the
    fixture the EWMA stays inside the trailing-window min/max."""
    got = (timeseries.ts_ewma_trend(spark, sf_dir)
           .toPandas().sort_values(["priority", "d"]))
    for _, g in got.groupby("priority"):
        g = g.reset_index(drop=True)
        assert abs(g.ewma[0] - g.day_total[0]) < 1e-3
        roll_min = g.day_total.rolling(30, min_periods=1).min()
        roll_max = g.day_total.rolling(30, min_periods=1).max()
        assert ((g.ewma >= roll_min - 1e-3)
                & (g.ewma <= roll_max + 1e-3)).all()


def test_ewma_weights_recent_days_more(spark, sf_dir):
    """A jump in the daily total must pull the EWMA toward the new
    level by at least the alpha-normalized weight of the newest day."""
    got = (timeseries.ts_ewma_trend(spark, sf_dir)
           .toPandas().sort_values(["priority", "d"]))
    g = got[got.priority == got.priority.iloc[0]].reset_index(drop=True)
    # w0 (weight of the newest observation) >= 0.3 for every frame size
    # convexity vs the PREVIOUS ewma only holds while the frame is
    # still cumulative (no rows have fallen out of the 30-row window)
    for i in range(1, min(len(g), 30)):
        prev_ewma, x = g.ewma[i - 1], g.day_total[i]
        # new ewma lies between prev smoothed level and the new point,
        # and moves at least 30% of the way toward it (w0 >= alpha)
        lo = min(prev_ewma, x)
        hi = max(prev_ewma, x)
        assert lo - 1e-3 <= g.ewma[i] <= hi + 1e-3
        moved = abs(g.ewma[i] - prev_ewma)
        gap = abs(x - prev_ewma)
        assert moved >= 0.3 * gap - 1e-3


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _series = st.lists(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=30)

    @settings(max_examples=12, deadline=None)
    @given(_series)
    def test_ewma_matches_pandas_ewm_property(series):
        """For any series up to the window length, the engine's fold
        must equal pandas ewm(alpha=0.3, adjust=True) — an independent
        implementation of the same normalized-weights definition."""
        from pyspark.sql import functions as F

        from mongo_cdc_spark.operators.timeseries import ewma_columns
        from mongo_cdc_spark.session import get_spark
        spark = get_spark("pytest")
        rows = [("k", i, round(v, 4)) for i, v in enumerate(series)]
        df = spark.createDataFrame(rows, "part string, i int, x double")
        got = (ewma_columns(df, "part", "i", "x")
               .orderBy("i").toPandas())
        want = (pd.Series([round(v, 4) for v in series])
                .ewm(alpha=0.3, adjust=True).mean())
        assert (got.ewma - want.round(4)).abs().max() <= 1e-3
except ImportError:  # pragma: no cover - hypothesis is in this image
    pass


# ------------------------------------------------------ autocorrelation


def _daily(spark, sf_dir, agg):
    from mongo_cdc_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value").toPandas()
    ev["d"] = ev.ts.dt.normalize()
    return (ev.groupby(["event_type", "d"]).value.agg(agg)
            .round(6).rename("v").reset_index())


def test_acf_matches_pandas_calendar_lag(spark, sf_dir):
    daily = _daily(spark, sf_dir, "mean")
    got = timeseries.ts_autocorr_daily(spark, sf_dir).toPandas()
    for (et, k), grp in got.groupby(["event_type", "lag_days"]):
        s = daily[daily.event_type == et].set_index("d").v
        shifted = s.copy()
        shifted.index = shifted.index + pd.Timedelta(days=int(k))
        pair = pd.concat([s, shifted], axis=1, join="inner")
        pair.columns = ["a", "b"]
        assert len(pair) == grp.n_pairs.iloc[0]
        want = pair.a.corr(pair.b)
        have = grp.acf.iloc[0]
        if pd.isna(want):
            assert pd.isna(have)
        else:
            assert abs(have - round(want, 4)) < 2e-4


def test_acf_lag_grid_complete(spark, sf_dir):
    got = timeseries.ts_autocorr_daily(spark, sf_dir).toPandas()
    lags = set(range(1, timeseries.ACF_MAX_LAG + 1))
    for _, g in got.groupby("event_type"):
        assert set(g.lag_days) <= lags
        assert (g.n_pairs >= 1).all()


# -------------------------------------------------- CUSUM change points


def test_cusum_matches_textbook_recursion(spark, sf_dir):
    """The windowed prefix-scan identity must equal Page's recursive
    s_t = max(0, s_(t-1) + z_t -+ k) computed row-by-row in pandas."""
    daily = _daily(spark, sf_dir, "sum")
    got = (timeseries.ts_cusum_changepoint(spark, sf_dir)
           .toPandas().sort_values(["event_type", "day"]))
    for et, g in got.groupby("event_type"):
        s = (daily[daily.event_type == et]
             .sort_values("d").set_index("d").v)
        mu, sd = round(s.mean(), 6), round(s.std(ddof=1), 6)
        z = (s - mu) / sd if sd else s * float("nan")
        sp = sn = 0.0
        for (day, zv), row in zip(z.items(), g.itertuples()):
            sp = max(0.0, sp + zv - timeseries.CUSUM_K)
            sn = max(0.0, sn - zv - timeseries.CUSUM_K)
            assert pd.Timestamp(row.day) == day
            assert abs(row.cusum_pos - sp) < 1e-5
            assert abs(row.cusum_neg - sn) < 1e-5
            assert row.shifted == (sp > timeseries.CUSUM_H
                                   or sn > timeseries.CUSUM_H)


def test_hourly_entropy_matches_scipy_style_formula(spark, sf_dir):
    import math

    from mongo_cdc_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts").toPandas()
    ev["h"] = ev.ts.dt.hour
    got = timeseries.ts_hourly_entropy(spark, sf_dir).toPandas()
    for row in got.itertuples():
        g = ev[ev.event_type == row.event_type]
        counts = g.groupby("h").size()
        t = len(g)
        ent = -sum((n / t) * math.log(n / t) for n in counts)
        assert row.active_hours == len(counts)
        assert row.n_events == t
        assert abs(row.entropy_nats - round(ent, 6)) < 2e-6
        assert abs(row.perplexity - round(math.exp(ent), 6)) < 2e-5
        assert abs(row.uniformity - round(ent / math.log(24), 6)) < 2e-6
        assert 0 <= row.uniformity <= 1 + 1e-9


def test_ohlc_bars_envelope_and_volume(spark, sf_dir):
    got = timeseries.ts_ohlc_bars(spark, sf_dir).toPandas()
    assert len(got) > 0
    # high/low bound open/close; volume positive; vwap inside envelope
    assert (got.high >= got.low).all()
    assert ((got.open >= got.low - 1e-6) & (got.open <= got.high + 1e-6)).all()
    assert ((got.close >= got.low - 1e-6) & (got.close <= got.high + 1e-6)).all()
    assert (got.volume > 0).all()
    assert ((got.vwap >= got.low - 1e-6) & (got.vwap <= got.high + 1e-6)).all()
    # single-observation bars collapse to open==high==low==close
    one = got[got.volume == 1]
    if len(one):
        assert (one.open == one.close).all()
        assert (one.high == one.low).all()


def test_twap_covered_time_within_day(spark, sf_dir):
    got = timeseries.ts_time_weighted_avg(spark, sf_dir).toPandas()
    assert len(got) > 0
    # covered time is positive and can never exceed 24h per day
    assert (got.covered_us > 0).all()
    assert (got.covered_us <= 24 * 3600 * 1_000_000).all()
    # TWAP stays inside the day's observed value envelope: compare
    # against simple average being finite and same order of magnitude
    assert got.twap.notna().all()
    assert (abs(got.twap - got.simple_avg)
            < got.simple_avg.abs() + 100).all()


def test_incident_windows_contiguity_and_mass(spark, sf_dir):
    got = timeseries.events_incident_windows(spark, sf_dir).toPandas()
    if len(got) == 0:
        return  # no |z|>2 hours at this SF — valid
    # duration arithmetic: end - start == n_hours
    dur_h = (got.incident_end - got.incident_start).dt.total_seconds() / 3600
    assert (dur_h == got.n_hours).all()
    assert (got.peak_abs_z > 2).all()
    assert (got.events_in_incident > 0).all()
    # incidents within a type never overlap (gaps-and-islands merged them)
    for _, g in got.groupby("event_type"):
        g = g.sort_values("incident_start")
        assert (g.incident_start.iloc[1:].values
                >= g.incident_end.iloc[:-1].values).all()


def test_bh_fdr_matches_python_reference(spark, sf_dir):
    """P-values and the BH step-up decision recomputed driver-side
    with the same A&S normal-tail polynomial."""
    import math
    from collections import defaultdict

    from mongo_cdc_spark.operators.timeseries import (_AS_B, _AS_P,
                                                      _BH_Q, _SQRT_2PI,
                                                      stats_fdr_bh_weekend)

    from mongo_cdc_spark.io import load_table

    got = stats_fdr_bh_weekend(spark, sf_dir).collect()
    assert got
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "ts", "value").collect()
    daily = defaultdict(float)
    for r in ev:
        wk = 1 if r.ts.isoweekday() >= 6 else 0
        daily[(r.event_type, r.ts.date(), wk)] += r.value
    groups = defaultdict(list)
    for (et, _, wk), v in daily.items():
        groups[(et, wk)].append(round(v, 6))
    pvals = {}
    for et in {k[0] for k in groups}:
        stats = {}
        for wk in (0, 1):
            xs = groups[(et, wk)]
            n, m = len(xs), sum(xs) / len(xs)
            s2 = sum((x - m) ** 2 for x in xs) / (n - 1)
            stats[wk] = (n, m, s2)
        (n0, m0, s0), (n1, m1, s1) = stats[0], stats[1]
        at = abs((m1 - m0) / math.sqrt(s0 / n0 + s1 / n1))
        k = 1.0 / (1.0 + _AS_P * at)
        poly = sum(b * k ** (i + 1) for i, b in enumerate(_AS_B))
        sf = math.exp(-at * at / 2) / _SQRT_2PI * poly
        pvals[et] = round(2 * sf, 6)
    ordered = sorted(pvals.items(), key=lambda kv: (kv[1], kv[0]))
    m = len(ordered)
    kmax = max((i + 1 for i, (_, p) in enumerate(ordered)
                if p * m <= (i + 1) * _BH_Q), default=0)
    for i, r in enumerate(got):
        et, p = ordered[i]
        assert r.event_type == et and abs(r.p_value - p) < 1e-6
        assert r.p_rank == i + 1
        assert r.reject == (i + 1 <= kmax)


def test_motif_pairs_are_non_overlapping_and_consistent(spark, sf_dir):
    """Motif windows must not overlap (|i-j| >= w in day terms) and
    zdist must satisfy the d^2 = 2w(1-r) identity on its own row."""
    import math

    from mongo_cdc_spark.operators import timeseries

    got = timeseries.ts_motif_discovery(spark, sf_dir).toPandas()
    assert 1 <= len(got) <= 3
    w = timeseries._MOTIF_W
    for r in got.itertuples():
        assert (r.window_b - r.window_a).days >= w
        assert -1.0 - 1e-9 <= r.corr <= 1.0 + 1e-9
        assert abs(r.zdist
                   - math.sqrt(max(0.0, 2 * w * (1 - r.corr)))) < 2e-6
    # ranked ascending by distance
    assert got.zdist.is_monotonic_increasing


def test_binseg_changepoints_match_exhaustive_python(spark, sf_dir):
    """Exhaustive binary segmentation in Python on the same
    integer-cents daily series — identical splits and gains."""
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        ts_binseg_changepoints)
    from pyspark.sql import functions as F

    daily = (load_table(spark, sf_dir, "events")
             .filter(F.col("event_type") == "purchase")
             .groupBy(F.col("ts").cast("date").alias("d"))
             .agg(F.round(F.sum("value") * 100).cast("bigint")
                  .alias("vc"))
             .orderBy("d").collect())
    days = [r.d for r in daily]
    v = [float(r.vc) for r in daily]
    n = len(v)
    P = [0.0] * (n + 1)
    P2 = [0.0] * (n + 1)
    for i, x in enumerate(v):
        P[i + 1] = P[i] + x
        P2[i + 1] = P2[i] + x * x

    def sse(a_, b_):
        if b_ <= a_:
            return 0.0
        s = P[b_] - P[a_]
        return (P2[b_] - P2[a_]) - s * s / (b_ - a_)

    g1 = [(round(sse(0, n) - sse(0, t) - sse(t, n), 4), t)
          for t in range(1, n)]
    gain1, t1 = max(g1, key=lambda p: (p[0], -p[1]))
    g2 = []
    for t in range(1, n):
        if t == t1:
            continue
        if t < t1:
            g = sse(0, t1) - sse(0, t) - sse(t, t1)
        else:
            g = sse(t1, n) - sse(t1, t) - sse(t, n)
        g2.append((round(g, 4), t))
    gain2, t2 = max(g2, key=lambda p: (p[0], -p[1]))

    got = ts_binseg_changepoints(spark, sf_dir).toPandas() \
        .set_index("round")
    assert int(got.loc[1, "split_idx"]) == t1
    assert got.loc[1, "split_day"] == days[t1]
    assert abs(got.loc[1, "gain_sse"] - round(gain1 / 1e4, 4)) < 1e-3
    assert int(got.loc[2, "split_idx"]) == t2
    assert got.loc[2, "split_day"] == days[t2]
    assert abs(got.loc[2, "gain_sse"] - round(gain2 / 1e4, 4)) < 1e-3
    assert (got.n_days == n).all()
    # each round's gain is a genuine SSE reduction (round-2 may
    # exceed round-1: segment-local splits can unlock larger drops)
    assert gain1 > 0 and gain2 >= 0


def test_twoway_fixed_effects_matches_python_within(spark, sf_dir):
    """Within-estimator recompute in pure Python (demeaned OLS) and
    an orthogonality check: demeaned x is orthogonal to both sets of
    absorbed dummies by construction."""
    import math
    from collections import defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        stats_twoway_fixed_effects)
    from pyspark.sql import functions as F

    panel = (load_table(spark, sf_dir, "events")
             .groupBy(F.col("event_type").alias("i"),
                      F.col("ts").cast("date").alias("t"))
             .agg(F.round(F.sum("value"), 2).alias("y"),
                  F.count(F.lit(1)).alias("x"))).collect()
    rows = [(r.i, r.t, float(r.y), float(r.x)) for r in panel]
    yi, xi = defaultdict(list), defaultdict(list)
    yt, xt = defaultdict(list), defaultdict(list)
    for i, t, y, x in rows:
        yi[i].append(y)
        xi[i].append(x)
        yt[t].append(y)
        xt[t].append(x)
    n = len(rows)
    yg = sum(y for _, _, y, _ in rows) / n
    xg = sum(x for _, _, _, x in rows) / n
    sxx = sxy = syy = 0.0
    for i, t, y, x in rows:
        yd = y - sum(yi[i]) / len(yi[i]) - sum(yt[t]) / len(yt[t]) + yg
        xd = x - sum(xi[i]) / len(xi[i]) - sum(xt[t]) / len(xt[t]) + xg
        sxx += xd * xd
        sxy += xd * yd
        syy += yd * yd
    b = sxy / sxx
    df = n - len(yi) - len(yt) + 1
    se = math.sqrt((syy - b * b * sxx) / df / sxx)
    got = stats_twoway_fixed_effects(spark, sf_dir).toPandas().iloc[0]
    assert int(got.n_obs) == n
    assert (int(got.n_types), int(got.n_days)) \
        == (len(yi), len(yt))
    assert abs(got.slope - round(b, 6)) < 2e-5
    assert abs(got.se - round(se, 6)) < 2e-5
    assert abs(got.t_stat - round(b / se, 4)) < 2e-3
    assert abs(got.r2_within - round(b * b * sxx / syy, 6)) < 2e-5
    assert 0 <= got.r2_within <= 1


def test_markov_stationary_is_chain_fixed_point(spark, sf_dir):
    """Independent eigen solve of pi P = pi (numpy) must match, and
    both distributions sum to 1."""
    from collections import defaultdict

    import numpy as np

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        events_markov_stationary)

    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_type", "ts", "event_id")
          .orderBy("user_id", "ts", "event_id").collect())
    trans = defaultdict(int)
    prev_by_user = {}
    for r in ev:
        if r.user_id in prev_by_user:
            trans[(prev_by_user[r.user_id], r.event_type)] += 1
        prev_by_user[r.user_id] = r.event_type
    states = sorted({a for a, _ in trans})
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((len(states), len(states)))
    for (a, b), n in trans.items():
        P[idx[a], idx[b]] = n
    P = P / P.sum(axis=1, keepdims=True)
    # principal left eigenvector
    vals, vecs = np.linalg.eig(P.T)
    k = int(np.argmin(np.abs(vals - 1)))
    pi = np.real(vecs[:, k])
    pi = pi / pi.sum()
    got = events_markov_stationary(spark, sf_dir).toPandas() \
        .set_index("event_type")
    for s in states:
        assert abs(got.loc[s, "stationary_prob"]
                   - round(float(pi[idx[s]]), 6)) < 5e-5
    assert abs(got.stationary_prob.sum() - 1.0) < 1e-4
    assert abs(got.empirical_share.sum() - 1.0) < 1e-3
    assert (got.abs_gap >= 0).all()


def test_ses_closed_form_equals_recursion(spark, sf_dir):
    """The unrolled closed form must equal the sequential recursion
    l_t = a*y_t + (1-a)*l_(t-1) run in plain Python (up to the
    declared 8-dp coefficient rounding)."""
    from mongo_cdc_spark.operators.timeseries import (
        _SES_ALPHA, ts_exponential_smoothing)

    got = ts_exponential_smoothing(spark, sf_dir).toPandas()
    got = got.sort_values("t").reset_index(drop=True)
    ys = list(got.revenue)
    lvl = ys[0]
    assert abs(got.level[0] - round(ys[0], 6)) < 1e-9
    for t in range(1, len(ys)):
        lvl = _SES_ALPHA * ys[t] + (1 - _SES_ALPHA) * lvl
        assert abs(got.level[t] - lvl) < 1e-4, t
        assert abs(got.forecast[t] - got.level[t - 1]) < 1e-9
        assert abs(got.abs_err[t]
                   - round(abs(ys[t] - got.level[t - 1]), 6)) < 1e-9


def test_dow_seasonality_zero_sum_and_recompute(spark, sf_dir):
    """Python recompute of the centered-MA decomposition; additive
    seasonal indices over full weeks are near-balanced."""
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import ts_dow_seasonality
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").toPandas()
    ev = ev[ev.event_type == "purchase"]
    daily = (ev.assign(day=ev.ts.dt.floor("D"),
                       cents=(ev.value * 100).round().astype("int64"))
             .groupby("day").cents.sum() / 100.0).sort_index()
    y = daily.values
    n = len(y)
    rows = {}
    for t in range(3, n - 3):
        trend = round(y[t - 3:t + 4].mean(), 6)
        dow = daily.index[t].weekday() + 1
        rows.setdefault(dow, []).append(y[t] - trend)
    got = ts_dow_seasonality(spark, sf_dir).toPandas() \
        .set_index("dow")
    for dow, ds in rows.items():
        assert int(got.loc[dow].n_days) == len(ds)
        assert abs(got.loc[dow].seasonal
                   - round(pd.Series(ds).mean(), 6)) < 1e-5
    # additive indices balance out up to sampling noise
    w = (got.seasonal * got.n_days).sum() / got.n_days.sum()
    assert abs(w) < max(1.0, 0.05 * daily.mean())


def test_kendall_tau_matches_bruteforce(spark, sf_dir):
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import ts_kendall_tau
    import math

    ev = load_table(spark, sf_dir, "events").toPandas()
    d = (ev.assign(day=ev.ts.dt.floor("D"))
         .groupby("day").event_type
         .agg(p=lambda s: (s == "purchase").sum(),
              v=lambda s: (s == "view").sum()))
    c = dc = tx = ty = 0
    vals = list(zip(d.p, d.v))
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            s = (vals[i][0] - vals[j][0]) * (vals[i][1] - vals[j][1])
            if s > 0:
                c += 1
            elif s < 0:
                dc += 1
            elif vals[i][0] == vals[j][0] and vals[i][1] != vals[j][1]:
                tx += 1
            elif vals[i][1] == vals[j][1] and vals[i][0] != vals[j][0]:
                ty += 1
    got = ts_kendall_tau(spark, sf_dir).collect()[0]
    assert (got.n_concordant, got.n_discordant) == (c, dc)
    assert (got.n_ties_x, got.n_ties_y) == (tx, ty)
    tau = (c - dc) / math.sqrt((c + dc + tx) * (c + dc + ty))
    assert abs(got.tau_b - round(tau, 6)) < 1e-9


def test_spearman_matches_pandas(spark, sf_dir):
    """pandas rank-Pearson recompute with the same deterministic
    (value, day) tiebreak."""
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import ts_spearman_daily

    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    cents = (ev[ev.event_type == "purchase"]
             .assign(c=lambda d: (d.value * 100).round().astype("int64"))
             .groupby("day").c.sum())
    daily = (ev.groupby("day").user_id.nunique().rename("users")
             .to_frame().join(cents.rename("cents")).fillna(0)
             .reset_index().sort_values("day"))
    rx = daily.sort_values(["cents", "day"]).reset_index().index
    daily["rx"] = daily.sort_values(["cents", "day"]).assign(
        r=range(1, len(daily) + 1)).sort_index().r
    daily["ry"] = daily.sort_values(["users", "day"]).assign(
        r=range(1, len(daily) + 1)).sort_index().r
    n = len(daily)
    rho = 1 - 6 * ((daily.rx - daily.ry) ** 2).sum() / (n * (n * n - 1))
    got = ts_spearman_daily(spark, sf_dir).collect()[0]
    assert got.n_days == n
    assert abs(got.spearman_rho - round(rho, 6)) < 1e-9
    assert -1 <= got.spearman_rho <= 1


def test_ljungbox_matches_python_recompute(spark, sf_dir):
    """Textbook r_k and cumulative Q recomputed in numpy on the same
    6-dp-rounded ACF values."""
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        _LB_CRIT, _LB_MAX_LAG, ts_ljungbox_whiteness)
    import numpy as np

    ev = load_table(spark, sf_dir, "events").toPandas()
    p = ev[ev.event_type == "purchase"]
    daily = (p.assign(day=p.ts.dt.floor("D"),
                      c=(p.value * 100).round().astype("int64"))
             .groupby("day").c.sum() / 100.0).sort_index()
    y = daily.to_numpy(dtype=float)
    n = len(y)
    mu = y.mean()
    s0 = ((y - mu) ** 2).sum()
    got = ts_ljungbox_whiteness(spark, sf_dir).toPandas() \
        .set_index("lag")
    q = 0.0
    for k in range(1, _LB_MAX_LAG + 1):
        rk = round(((y[:-k] - mu) * (y[k:] - mu)).sum() / s0, 6)
        assert abs(got.loc[k].acf - rk) < 1e-9, k
        q += rk * rk / (n - k)
        qk = n * (n + 2) * q
        assert abs(got.loc[k].q_stat - round(qk, 6)) < 1e-4, k
        assert got.loc[k].reject_white_05 == \
            (round(qk, 6) > _LB_CRIT[k - 1]), k


def test_runs_test_matches_python_recompute(spark, sf_dir):
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import ts_runs_test
    import math
    import numpy as np

    ev = load_table(spark, sf_dir, "events").toPandas()
    p = ev[ev.event_type == "purchase"]
    daily = (p.assign(day=p.ts.dt.floor("D"),
                      c=(p.value * 100).round().astype("int64"))
             .groupby("day").c.sum() / 100.0).sort_index()
    y = daily.to_numpy(dtype=float)
    med = float(np.quantile(y, 0.5, method="linear"))
    s = [1 if v > med else 0 for v in y if v != med]
    r = 1 + sum(a != b for a, b in zip(s, s[1:]))
    n1, n2 = sum(s), len(s) - sum(s)
    got = ts_runs_test(spark, sf_dir).collect()[0]
    assert (got.n_runs, got.n_above, got.n_below) == (r, n1, n2)
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    sd = math.sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                   / ((n1 + n2) ** 2 * (n1 + n2 - 1)))
    assert abs(got.z_stat - round((r - mu) / sd, 6)) < 1e-9
    assert got.reject_random_05 == (abs((r - mu) / sd) > 1.959964)


def test_mann_kendall_matches_python_reference(spark, sf_dir):
    """Exhaustive pure-Python S / tie-corrected variance / z replay
    over the same integer-cents daily series."""
    import math
    from collections import Counter, defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        ts_mann_kendall_trend)

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value").collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r["event_type"]][r["ts"].date()] += round(
            r["value"] * 100)
    got = {r["event_type"]: r for r in
           ts_mann_kendall_trend(spark, sf_dir).collect()}
    assert set(got) == set(daily)
    for et, series in daily.items():
        days = sorted(series)
        xs = [series[d] for d in days]
        n = len(xs)
        s = sum((xs[j] > xs[i]) - (xs[j] < xs[i])
                for i in range(n) for j in range(i + 1, n))
        tie = sum(t * (t - 1) * (2 * t + 5)
                  for t in Counter(xs).values() if t > 1)
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        z = ((s - 1) / math.sqrt(var) if s > 0
             else (s + 1) / math.sqrt(var) if s < 0 else 0.0)
        r = got[et]
        assert r["n_days"] == n
        assert r["s_stat"] == s
        assert abs(r["var_s"] - round(var, 4)) < 1e-9
        assert abs(r["z"] - round(z, 6)) < 1e-9
        assert r["reject_05"] == (abs(round(z, 6)) > 1.959964)


def test_brown_double_smoothing_equals_recursion(spark, sf_dir):
    """Both closed-form passes must equal the sequential recursions
    l1_t = a*y_t + (1-a)*l1_(t-1) and l2_t = a*l1_t + (1-a)*l2_(t-1)
    (up to the declared 8-dp coefficient rounding), and the forecast
    must be the prior day's a_t + b_t."""
    from mongo_cdc_spark.operators.timeseries import (
        _DES_ALPHA, ts_brown_double_smoothing)

    got = ts_brown_double_smoothing(spark, sf_dir).toPandas()
    got = got.sort_values("t").reset_index(drop=True)
    ys = list(got.revenue)
    a = _DES_ALPHA
    l1, l2 = ys[0], ys[0]
    assert abs(got.lvl1[0] - round(ys[0], 6)) < 1e-9
    assert abs(got.lvl2[0] - round(ys[0], 6)) < 1e-4
    for t in range(1, len(ys)):
        l1 = a * ys[t] + (1 - a) * l1
        # the second pass consumes the ROUNDED first-pass levels
        l2 = a * got.lvl1[t] + (1 - a) * l2
        assert abs(got.lvl1[t] - l1) < 1e-4, t
        assert abs(got.lvl2[t] - l2) < 1e-4, t
        at = round(2 * got.lvl1[t] - got.lvl2[t], 6)
        bt = round(a / (1 - a) * (got.lvl1[t] - got.lvl2[t]), 6)
        assert abs(got.a_t[t] - at) < 1e-9
        assert abs(got.b_t[t] - bt) < 1e-9
        f = round(got.a_t[t - 1] + got.b_t[t - 1], 6)
        assert abs(got.forecast[t] - f) < 1e-9
        assert abs(got.abs_err[t] - round(abs(ys[t] - f), 6)) < 1e-9


def test_page_hinkley_matches_python_reference(spark, sf_dir):
    """Sequential PH recursion over exact daily cents per type."""
    import math
    from collections import defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        ts_page_hinkley_drift)

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[(r["event_type"], r["ts"].date())] += round(
            r["value"] * 100)
    series = defaultdict(list)
    for (et, d) in sorted(daily):
        series[et].append((d, daily[(et, d)]))
    got = {r["event_type"]: r
           for r in ts_page_hinkley_drift(spark, sf_dir).collect()}
    for et, pts in series.items():
        xs = [x for _, x in pts]
        n = len(xs)
        mean = sum(xs) / n
        sigma = math.sqrt(sum(x * x for x in xs) / n - mean * mean)
        cum = m = 0
        mn = mx = 0.0
        up_max = dn_max = 0.0
        first = None
        for i, (d, x) in enumerate(pts, start=1):
            cum += x
            m += x - cum / i
            mn, mx = min(mn, m), max(mx, m)
            up, dn = (m - mn) / sigma, (mx - m) / sigma
            up_max, dn_max = max(up_max, up), max(dn_max, dn)
            if first is None and (up > 3.0 or dn > 3.0):
                first = d.strftime("%Y-%m-%d")
        r = got[et]
        assert r["n_days"] == n
        assert math.isclose(r["sigma_daily"], sigma / 100, abs_tol=1e-3)
        assert math.isclose(r["ph_up_max"], up_max, abs_tol=1e-5)
        assert math.isclose(r["ph_down_max"], dn_max, abs_tol=1e-5)
        assert r["drift_alarm"] == (up_max > 3.0 or dn_max > 3.0)
        assert r["first_alarm_day"] == first


def test_durbin_watson_matches_python_reference(spark, sf_dir):
    """OLS residual DW from exact daily cents."""
    import math
    from collections import defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import ts_durbin_watson

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "value").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[r["ts"].date()] += round(r["value"] * 100)
    ys = [daily[d] for d in sorted(daily)]
    n = len(ys)
    ts_ = list(range(1, n + 1))
    st, st2 = sum(ts_), sum(t * t for t in ts_)
    sy = sum(ys)
    sty = sum(t * y for t, y in zip(ts_, ys))
    b = (n * sty - st * sy) / (n * st2 - st * st)
    a = (sy - b * st) / n
    e = [y - a - b * t for t, y in zip(ts_, ys)]
    dw = (sum((e[i] - e[i - 1]) ** 2 for i in range(1, n))
          / sum(v * v for v in e))
    row = ts_durbin_watson(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert math.isclose(row["slope_dollars_per_day"], b / 100,
                        abs_tol=1e-5)
    assert math.isclose(row["dw_stat"], dw, abs_tol=1e-5)
    assert row["positive_autocorr"] == (round(dw, 6) < 1.352)
    assert row["negative_autocorr"] == (round(dw, 6) > 2.648)


def test_variance_ratio_matches_python_reference(spark, sf_dir):
    """Lo-MacKinlay VR(5) with overlapping q-differences."""
    import math
    from collections import defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        VR_Q, ts_variance_ratio)

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "value").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[r["ts"].date()] += round(r["value"] * 100)
    xs = [math.log(daily[d]) for d in sorted(daily)]
    n = len(xs)
    t = n - 1
    q = VR_Q
    mu = (xs[-1] - xs[0]) / t
    var1 = sum((xs[i] - xs[i - 1] - mu) ** 2
               for i in range(1, n)) / t
    varq = sum((xs[i] - xs[i - q] - q * mu) ** 2
               for i in range(q, n)) / (q * (t - q + 1))
    vr = varq / var1
    z = (vr - 1) / math.sqrt(2 * (2 * q - 1) * (q - 1) / (3 * q * t))
    row = ts_variance_ratio(spark, sf_dir).collect()[0]
    assert row["n_days"] == n and row["q"] == q
    assert math.isclose(row["vr"], vr, abs_tol=1e-5)
    assert math.isclose(row["z_stat"], z, abs_tol=1e-5)
    assert row["reject_05"] == (abs(round(z, 6)) > 1.96)


def test_crosscorr_leadlag_matches_python_reference(spark, sf_dir):
    """Per-lag Pearson r from exact daily count moments."""
    import math
    from collections import defaultdict
    from datetime import timedelta

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        CCF_MAX_LAG, ts_crosscorr_leadlag)

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type").collect()
    daily = defaultdict(lambda: [0, 0])
    for r in ev:
        if r["event_type"] == "click":
            daily[r["ts"].date()][0] += 1
        elif r["event_type"] == "purchase":
            daily[r["ts"].date()][1] += 1
    got = {r["lag_days"]: r
           for r in ts_crosscorr_leadlag(spark, sf_dir).collect()}
    assert set(got) == set(range(-CCF_MAX_LAG, CCF_MAX_LAG + 1))
    for lag in got:
        pairs = [(x, daily[d + timedelta(days=lag)][1])
                 for d, (x, _) in daily.items()
                 if d + timedelta(days=lag) in daily]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sx2 = sum(x * x for x, _ in pairs)
        sy2 = sum(y * y for _, y in pairs)
        r_ = ((n * sxy - sx * sy)
              / math.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)))
        g = got[lag]
        assert g["n_days"] == n
        assert math.isclose(g["ccf"], r_, abs_tol=1e-5), lag


def test_classical_decompose_matches_python_reference(spark, sf_dir):
    """Exact-scaled trend/seasonal/remainder plus the additive
    identity y = trend + seasonal + remainder."""
    import math
    from collections import defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        ts_classical_decompose)

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "value").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[r["ts"].date()] += round(r["value"] * 100)
    days = sorted(daily)
    yc = [daily[d] for d in days]
    n = len(yc)
    rows = []
    for i in range(3, n - 3):
        t = i + 1
        if not (4 <= t <= 24):
            continue
        s7 = sum(yc[i - 3:i + 4])
        rows.append((days[i], days[i].weekday(), yc[i], s7,
                     7 * yc[i] - s7))
    assert len(rows) == 21
    a_dow = defaultdict(int)
    n_dow = defaultdict(int)
    tt = 0
    for _, dow, _, _, d in rows:
        a_dow[dow] += d
        n_dow[dow] += 1
        tt += d
    assert all(v == 3 for v in n_dow.values())   # 3 full weeks
    got = {r["day"]: r for r in
           ts_classical_decompose(spark, sf_dir).collect()}
    assert len(got) == 21
    for day, dow, y, s7, d in rows:
        g = got[day]
        assert g["dow"] == dow
        c = 7 * a_dow[dow] - tt
        assert math.isclose(g["revenue"], y / 100, abs_tol=5e-3)
        assert math.isclose(g["trend"], s7 / 700, abs_tol=5e-5)
        assert math.isclose(g["seasonal"], c / 14700, abs_tol=5e-5)
        rem = (147 * y - 21 * s7 - c) / 14700
        assert math.isclose(g["remainder"], rem, abs_tol=5e-5)
        # the additive identity, exact at the common scaled grain
        assert 147 * y == 21 * s7 + c + (147 * y - 21 * s7 - c)
        assert abs((g["trend"] + g["seasonal"] + g["remainder"])
                   - y / 100) < 2e-4


def test_hurst_rs_matches_python_reference(spark, sf_dir):
    """Pure-Python R/S recompute (exact integer block algebra, same
    rounding ladder) and the OLS slope identity."""
    import math

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.timeseries import (
        HURST_NS, ts_hurst_rs_exponent)
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.where(F.col("event_type") == "purchase")
              .groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                   .alias("x"))
              .orderBy("h").collect())
    xs = [r.x for r in hourly]
    want = {}
    pts = []
    for n in HURST_NS:
        ratios = []
        for b in range(len(xs) // n):
            blk = xs[b * n:(b + 1) * n]
            s1, s2 = sum(blk), sum(v * v for v in blk)
            varn = n * s2 - s1 * s1
            if varn <= 0:
                continue
            pref, ds = 0, []
            for j, v in enumerate(blk, start=1):
                pref += v
                ds.append(n * pref - j * s1)
            rn = max(ds) - min(ds)
            ratios.append(round(rn / math.sqrt(varn), 6))
        rs = round(sum(ratios) / len(ratios), 4)
        want[n] = (len(ratios), rs)
        pts.append((math.log10(n), math.log10(rs)))
    k = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    hurst = round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4)
    got = ts_hurst_rs_exponent(spark, sf_dir).collect()
    assert [r.block_n for r in got] == list(HURST_NS)
    for r in got:
        nb, rs = want[r.block_n]
        assert r.n_blocks == nb
        assert abs(r.rs_mean - rs) < 1e-9
        assert abs(r.hurst_exponent - hurst) < 1e-9
        assert 0.0 < r.hurst_exponent < 1.0


def test_markov_stationary_rows_match_oracle_for_source_only_type(
        spark, tmp_path):
    """A type seen only as a user's FIRST event is a chain source with
    no inflow: the oracle's final GROUP BY nxt emits no row for it, so
    the engine must not emit one either (it used to add a
    stationary_prob = 0 row)."""
    from datetime import datetime, timedelta

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo_cdc_spark.operators.timeseries import (
        _stationary_oracle_sql, events_markov_stationary)

    journeys = {1: ["entry", "view", "cart", "view"],
                2: ["view", "cart", "buy"],
                3: ["entry", "cart", "buy", "view"]}
    t0 = datetime(2024, 1, 1)
    rows = [(u, et, t0 + timedelta(minutes=i))
            for u, types in journeys.items() for i, et in enumerate(types)]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": [r[1] for r in rows],
        "value": [1.0] * len(rows),
        "props": ["{}"] * len(rows),
    }), tmp_path / "events.parquet")

    got = [tuple(r) for r in
           events_markov_stationary(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS FROM '{tmp_path}/events.parquet'")
    want = con.sql(_stationary_oracle_sql()).fetchall()
    con.close()
    assert "entry" not in {r[0] for r in got}
    assert [r[0] for r in got] == [r[0] for r in want]
    for g, w in zip(got, want):
        assert all(abs(a - b) < 1e-6 for a, b in zip(g[1:], w[1:]))


def test_markov_stationary_refuses_a_matrix_past_cap(spark, tmp_path):
    """The transition matrix is collected to the driver, so a chain with
    more transitions than the cap must fail loudly, not be collected:
    257 types, every ordered pair of them seen (257**2 > 256**2)."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 257
    assert n * n > timeseries._MARKOV_MAX_TRANSITIONS
    # user a visits a, 0, a, 1, ..., a, n-1: transitions (a, k) for all k
    users, types = [], []
    for a in range(n):
        for k in range(n):
            users += [a, a]
            types += [a, k]
    t0 = datetime(2024, 1, 1)
    m = len(types)
    pq.write_table(pa.table({
        "event_id": pa.array(range(m), pa.int64()),
        "ts": pa.array([t0 + timedelta(seconds=i) for i in range(m)],
                       pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": [f"t{t:04d}" for t in types],
        "value": [1.0] * m,
        "props": ["{}"] * m,
    }), tmp_path / "events.parquet")
    with pytest.raises(ValueError, match="transitions exceed the cap"):
        timeseries.events_markov_stationary(spark, str(tmp_path))
