"""Round-16 third-implementation cross-checks (the r14/r15 discipline):
the new statistics recomputed in plain NumPy / pure Python from the
raw parquet (loaded via pandas — no Spark, no DuckDB), compared
against the registry queries' Spark outputs. The Spark<->DuckDB
differential is the primary gate; this guards against BOTH engines
sharing a mistranscribed formula.

Tolerances: exact-integer statistics get 1e-6; statistics whose engine
side quantizes the standardized series to a 6-dp lattice (DFA,
Lomb-Scargle) or lattice-builds ln-Gamma (Beta posterior) get looser
bounds sized to the quantization, computed here WITHOUT the lattice so
the check is genuinely independent.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest

from conftest import SF_SMOKE

from tb_scale_spatial_data_pipeline_spark.operators.graphs import EDGE_THIN_BELOW


@pytest.fixture(scope="module")
def daily() -> pd.DataFrame:
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cents = np.round(orders["o_totalprice"].to_numpy() * 100).astype(np.int64)
    df = pd.DataFrame({"d": orders["o_orderdate"].to_numpy(), "y": cents})
    g = df.groupby("d")["y"].agg(["sum", "count"]).sort_index()
    return pd.DataFrame({"y": g["sum"].to_numpy(), "c": g["count"].to_numpy()})


def _one(spark, name):
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    return all_queries()[name](spark, SF_SMOKE).collect()


def test_allan_variance_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    mean_y = y.mean()
    rows = {r["tau"]: r for r in _one(spark, "allan_variance")}
    for tau in (1, 2, 4, 8, 16):
        k = len(y) // tau
        means = y[: k * tau].reshape(k, tau).mean(axis=1)
        avar = np.sum(np.diff(means) ** 2) / (2.0 * (k - 1))
        assert abs(rows[tau]["rel_adev"] - math.sqrt(avar) / mean_y) < 1e-6


def test_higuchi_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n = len(y)
    ls = []
    for k in range(1, 9):
        lm = []
        for m in range(1, k + 1):
            idx = np.arange(m - 1, n, k)
            d = np.abs(np.diff(y[idx])).sum()
            cnt = len(idx) - 1
            # L_m(k): integer path length, time-normalized by
            # (n-1)/(cnt*k) and curve-normalized by 1/k
            lm.append(d * (n - 1) / (cnt * k * k))
        ls.append(np.mean(lm))
    x = np.log(np.arange(1, 9, dtype=np.float64))
    ly = np.log(np.array(ls))
    slope = np.polyfit(x, ly, 1)[0]
    row = _one(spark, "higuchi_fractal_dimension")[0]
    assert abs(row["higuchi_d"] - (-slope)) < 1e-4


def test_energy_distance_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    half = len(y) // 2
    xs, ys = y[:half], y[half:]
    sxy = np.abs(xs[:, None] - ys[None, :]).sum()
    sxx = np.abs(xs[:, None] - xs[None, :]).sum()
    syy = np.abs(ys[:, None] - ys[None, :]).sum()
    e = (
        2.0 * sxy / (len(xs) * len(ys))
        - sxx / (len(xs) ** 2)
        - syy / (len(ys) ** 2)
    )
    row = _one(spark, "energy_distance_drift")[0]
    assert abs(row["rel_energy_distance"] - e / y.mean()) < 1e-6


def test_variance_ratio_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    # the engine rounds each log return to the 12-dp lattice
    r = np.round(np.log(y[1:] / y[:-1]), 12)
    q = 5
    rq = np.convolve(r, np.ones(q), mode="valid")
    var1 = r.var(ddof=1)
    varq = rq.var(ddof=1)
    row = _one(spark, "variance_ratio_test")[0]
    assert row["n_returns"] == len(r)
    assert abs(row["variance_ratio"] - varq / (q * var1)) < 1e-5


def test_newey_west_crosscheck(spark, daily):
    ys = daily["y"].to_numpy().astype(np.float64) / 1e8
    n = len(ys)
    tt = np.arange(1, n + 1, dtype=np.float64)
    b, a = np.polyfit(tt, ys, 1)
    e = ys - a - b * tt
    tc = tt - tt.mean()
    v = tc * e
    L = 4
    om = np.dot(v, v)
    for j in range(1, L + 1):
        om += 2.0 * (1.0 - j / (L + 1.0)) * np.dot(v[j:], v[:-j])
    sxx = np.sum(tc * tc)
    se_hac = math.sqrt(om) / sxx
    se_ols = math.sqrt(np.dot(e, e) / (n - 2) / sxx)
    row = _one(spark, "newey_west_hac_se")[0]
    assert row["n_days"] == n
    assert abs(row["trend_musd_per_day"] - b) < 1e-5
    assert abs(row["se_ols"] - se_ols) < 1e-5
    assert abs(row["se_hac"] - se_hac) < 1e-5


def test_phillips_perron_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64) / 1e8
    x, dy = y[:-1], np.diff(y)
    n = len(dy)
    pi, a = np.polyfit(x, dy, 1)
    e = dy - a - pi * x
    L = 4
    g = [np.dot(e[j:], e[: n - j] if j else e) / n for j in range(L + 1)]
    lam2 = g[0] + sum(2.0 * (1.0 - j / (L + 1.0)) * g[j] for j in range(1, L + 1))
    sxxc = np.sum((x - x.mean()) ** 2)
    s_reg = math.sqrt(g[0] * n / (n - 2))
    t_stat = pi / (s_reg / math.sqrt(sxxc))
    z_tau = math.sqrt(g[0] / lam2) * t_stat - (lam2 - g[0]) * n / (
        2.0 * math.sqrt(lam2) * math.sqrt(sxxc) * math.sqrt(n / (n - 2.0))
    )
    row = _one(spark, "phillips_perron_test")[0]
    assert row["n_obs"] == n
    assert abs(row["pi_hat"] - pi) < 1e-5
    assert abs(row["t_stat"] - t_stat) < 1e-4
    assert abs(row["z_tau"] - z_tau) < 1e-4


def test_cochrane_orcutt_crosscheck(spark, daily):
    ys = daily["y"].to_numpy().astype(np.float64) / 1e8
    n = len(ys)
    tt = np.arange(1, n + 1, dtype=np.float64)
    b, a = np.polyfit(tt, ys, 1)
    e = ys - a - b * tt
    rho = np.dot(e[1:], e[:-1]) / np.dot(e[:-1], e[:-1])
    ystar = ys[1:] - rho * ys[:-1]
    xstar = tt[1:] - rho * tt[:-1]
    beta_co = np.polyfit(xstar, ystar, 1)[0]
    row = _one(spark, "cochrane_orcutt_ar1")[0]
    assert abs(row["rho_hat"] - rho) < 1e-5
    assert abs(row["beta_ols"] - b) < 1e-6
    assert abs(row["beta_co"] - beta_co) < 1e-5


def test_dfa_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    z = (y - y.mean()) / y.std(ddof=1)
    p = np.cumsum(z)
    fs = {}
    for s in (16, 32, 64, 128):
        k = len(p) // s
        segs = p[: k * s].reshape(k, s)
        i = np.arange(1, s + 1, dtype=np.float64)
        rss = []
        for seg in segs:
            sl, ic = np.polyfit(i, seg, 1)
            resid = seg - ic - sl * i
            rss.append(np.dot(resid, resid) / s)
        fs[s] = math.sqrt(np.mean(rss))
    x = np.log(np.array(sorted(fs), dtype=np.float64))
    ly = np.log(np.array([fs[s] for s in sorted(fs)]))
    alpha = np.polyfit(x, ly, 1)[0]
    row = _one(spark, "detrended_fluctuation_alpha")[0]
    # engine quantizes z to a 1e-6 lattice before integrating
    assert abs(row["dfa_alpha"] - alpha) < 1e-3
    for s in (16, 32, 64, 128):
        assert abs(row[f"f_{s}"] - fs[s]) < 1e-3


def test_lomb_scargle_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    c = daily["c"].to_numpy()
    keep = c % 2 == 1
    tt = np.arange(1, len(y) + 1, dtype=np.float64)[keep]
    z = y[keep]
    z = (z - z.mean()) / z.std(ddof=1)
    rows = {r["period"]: r for r in _one(spark, "lomb_scargle_periodogram")}
    for T in (7.0, 30.0, 91.0, 365.0):
        w = 2.0 * math.pi / T
        ph = math.atan2(np.sum(np.sin(2 * w * tt)), np.sum(np.cos(2 * w * tt))) / 2.0
        ct, st = np.cos(w * tt - ph), np.sin(w * tt - ph)
        p = 0.5 * (
            np.dot(z, ct) ** 2 / np.dot(ct, ct)
            + np.dot(z, st) ** 2 / np.dot(st, st)
        )
        assert rows[T]["n_samples"] == int(keep.sum())
        assert abs(rows[T]["power"] - p) < 1e-3


def test_beta_binomial_crosscheck(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev[ev["user_id"] < 400]
    conv = ev.groupby("user_id")["event_type"].apply(
        lambda s: int((s == "purchase").any())
    )
    ids = conv.index.to_numpy()
    na = int((ids % 2 == 0).sum())
    ca = int(conv[ids % 2 == 0].sum())
    nb = int((ids % 2 == 1).sum())
    cb = int(conv[ids % 2 == 1].sum())
    aa, ba, ab_, bb = ca + 1, na - ca + 1, cb + 1, nb - cb + 1

    def lnb(x, y):
        return math.lgamma(x) + math.lgamma(y) - math.lgamma(x + y)

    p = sum(
        math.exp(
            lnb(aa + i, ba + bb)
            - math.log(bb + i)
            - lnb(1 + i, bb)
            - lnb(aa, ba)
        )
        for i in range(ab_)
    )
    row = _one(spark, "beta_binomial_ab_posterior")[0]
    assert (row["n_a"], row["conv_a"], row["n_b"], row["conv_b"]) == (
        na, ca, nb, cb,
    )
    assert abs(row["p_b_beats_a"] - p) < 1e-5


def test_frechet_crosscheck(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev.sort_values(["user_id", "event_id"])
    ev["v"] = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
    series = {
        uid: g["v"].to_numpy()[:16] for uid, g in ev.groupby("user_id")
    }
    ref = series[min(series)]

    def frechet(a, b):
        dp = np.zeros((len(a), len(b)), dtype=np.int64)
        for i in range(len(a)):
            for j in range(len(b)):
                d = abs(int(a[i]) - int(b[j]))
                if i == 0 and j == 0:
                    prev = 0
                elif i == 0:
                    prev = dp[0, j - 1]
                elif j == 0:
                    prev = dp[i - 1, 0]
                else:
                    prev = min(dp[i - 1, j], dp[i - 1, j - 1], dp[i, j - 1])
                dp[i, j] = max(d, prev)
        return int(dp[-1, -1])

    want = sorted(
        ((frechet(s, ref), uid) for uid, s in series.items())
    )[:20]
    got = [
        (r["frechet_cents"], r["user_id"])
        for r in _one(spark, "discrete_frechet_distance")
    ]
    assert got == [(d, u) for d, u in want[: len(got)]]


def test_weisfeiler_leman_crosscheck(spark):
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    ps = li[["l_partkey", "l_suppkey"]].drop_duplicates()
    pairs = set()
    for _, grp in ps.groupby("l_partkey"):
        sup = sorted(grp["l_suppkey"].tolist())
        for i in range(len(sup)):
            for j in range(i + 1, len(sup)):
                pairs.add((sup[i], sup[j]))
    kept = [
        (u, v)
        for (u, v) in pairs
        if int(hashlib.md5(str(u * 1000 + v).encode()).hexdigest()[:4], 16)
        < EDGE_THIN_BELOW
    ]
    adj: dict[int, list[int]] = {}
    for u, v in kept:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    colors = {n: f"d{len(nb)}" for n, nb in adj.items()}
    rows = {r["round"]: r for r in _one(spark, "weisfeiler_leman_colors")}

    def census(c):
        from collections import Counter

        cnt = Counter(c.values())
        return len(cnt), max(cnt.values())

    nc, lc = census(colors)
    assert (rows[0]["n_colors"], rows[0]["largest_class"]) == (nc, lc)
    for rd in (1, 2, 3):
        # multiset canonicalized as the SUM of per-neighbor md5-prefix
        # hashes (the engines' order-free map-side-combinable form)
        def h(c: str) -> int:
            return int(hashlib.md5(c.encode()).hexdigest()[:14], 16)

        colors = {
            n: hashlib.md5(
                (colors[n] + "|" + str(sum(h(colors[m]) for m in nb))).encode()
            ).hexdigest()[:16]
            for n, nb in adj.items()
        }
        nc, lc = census(colors)
        assert (rows[rd]["n_colors"], rows[rd]["largest_class"]) == (nc, lc)


def test_qte_and_bhattacharyya_and_srm_crosscheck(spark):
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    treat = orders["o_orderpriority"].isin(["1-URGENT", "2-HIGH"])
    rows = {r["decile"]: r for r in _one(spark, "quantile_treatment_effects")}
    for arm, col in (("treat", "q_treat"), ("control", "q_control")):
        sub = orders[treat if arm == "treat" else ~treat].sort_values(
            ["o_totalprice", "o_orderkey"]
        )
        p = sub["o_totalprice"].to_numpy()
        n = len(p)
        for d in range(1, 10):
            want = p[math.ceil(d * n / 10.0) - 1]
            assert abs(rows[d][col] - want) < 1e-9

    bins = np.minimum(
        np.floor(orders["o_totalprice"].to_numpy() / 30000.0).astype(int), 19
    )
    bc = 0.0
    nh, nl = int(treat.sum()), int((~treat).sum())
    for b in np.unique(bins):
        ch = int((treat & (bins == b)).sum())
        cl = int(((~treat) & (bins == b)).sum())
        bc += math.sqrt((ch / nh) * (cl / nl))
    row = _one(spark, "bhattacharyya_overlap")[0]
    assert abs(row["bhattacharyya_coef"] - bc) < 1e-6

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    users = ev["user_id"].unique()
    na, nb = int((users % 2 == 0).sum()), int((users % 2 == 1).sum())
    row = _one(spark, "srm_sample_ratio_check")[0]
    assert (row["na"], row["nb"]) == (na, nb)
    assert abs(row["srm_chi2"] - (na - nb) ** 2 / (na + nb)) < 1e-6


def test_evalue_crosscheck(spark):
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    urgent = set(
        orders[orders["o_orderpriority"] == "1-URGENT"]["o_custkey"]
    )
    expo = cust["c_mktsegment"].to_numpy() == "BUILDING"
    outc = cust["c_custkey"].isin(urgent).to_numpy()
    a = int((expo & outc).sum())
    b = int((expo & ~outc).sum())
    c = int((~expo & outc).sum())
    d = int((~expo & ~outc).sum())
    rr = (a / (a + b)) / (c / (c + d))
    rs = rr if rr >= 1 else 1.0 / rr
    row = _one(spark, "evalue_confounding_sensitivity")[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (a, b, c, d)
    assert abs(row["risk_ratio"] - rr) < 1e-6
    assert abs(row["e_value"] - (rs + math.sqrt(rs * (rs - 1)))) < 1e-6


def test_turning_point_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.int64)
    n = len(y)
    t = int(
        np.sum(
            ((y[1:-1] > y[:-2]) & (y[1:-1] > y[2:]))
            | ((y[1:-1] < y[:-2]) & (y[1:-1] < y[2:]))
        )
    )
    row = _one(spark, "turning_point_test")[0]
    assert (row["n_days"], row["turning_points"]) == (n, t)
    z = (t - 2.0 * (n - 2) / 3.0) / math.sqrt((16.0 * n - 29.0) / 90.0)
    assert abs(row["z_score"] - z) < 1e-6


def _lag_ranks(daily):
    y = daily["y"].to_numpy().astype(np.int64)
    yc, yp = y[1:], y[:-1]
    idx = np.arange(len(yc))
    r = np.empty(len(yc), dtype=np.int64)
    r[np.lexsort((idx, yc))] = np.arange(1, len(yc) + 1)
    s = np.empty(len(yc), dtype=np.int64)
    s[np.lexsort((idx, yp))] = np.arange(1, len(yc) + 1)
    return r, s


def test_tail_dependence_crosscheck(spark, daily):
    r, s = _lag_ranks(daily)
    m = len(r)
    hi = r > 0.9 * m
    both = hi & (s > 0.9 * m)
    row = _one(spark, "tail_dependence_coefficient")[0]
    assert (row["n_pairs"], row["n_hi"], row["n_both"]) == (
        m, int(hi.sum()), int(both.sum()),
    )
    assert abs(row["lambda_upper"] - both.sum() / hi.sum()) < 1e-6


def test_hoeffding_d_crosscheck(spark, daily):
    r, s = _lag_ranks(daily)
    n = len(r)
    q = np.array(
        [int(np.sum((r < r[i]) & (s < s[i]))) for i in range(n)],
        dtype=np.float64,
    )
    rf, sf = r.astype(np.float64), s.astype(np.float64)
    d1 = np.sum(q * (q - 1))
    d2 = np.sum((rf - 1) * (rf - 2) * (sf - 1) * (sf - 2))
    d3 = np.sum((rf - 2) * (sf - 2) * q)
    d = (
        30.0
        * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3)
        / (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))
    )
    row = _one(spark, "hoeffding_d_dependence")[0]
    assert row["n_pairs"] == n
    assert abs(row["hoeffding_d"] - d) < 1e-6


def test_distance_correlation_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    tt = np.arange(1, len(y) + 1, dtype=np.float64)
    n = len(y)

    def dcov2(a, b):
        da = np.abs(a[:, None] - a[None, :])
        db = np.abs(b[:, None] - b[None, :])
        s1 = (da * db).sum() / n**2
        s2 = da.sum() / n**2 * (db.sum() / n**2)
        s3 = (da.sum(axis=1) * db.sum(axis=1)).sum() / n**3
        return s1 + s2 - 2 * s3

    want = dcov2(y, tt) / math.sqrt(dcov2(y, y) * dcov2(tt, tt))
    row = _one(spark, "distance_correlation_daily")[0]
    assert row["n_days"] == n
    assert abs(row["dcor_squared_ratio"] - want) < 1e-6


def test_cepstrum_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n = len(y)
    z = (y - y.mean()) / y.std(ddof=1)
    tt = np.arange(1, n + 1, dtype=np.float64)
    K = 32
    logp = []
    for k in range(1, K + 1):
        arg = 2 * math.pi * k * tt / n
        logp.append(
            math.log(
                np.dot(z, np.cos(arg)) ** 2
                + np.dot(z, np.sin(arg)) ** 2
                + 1e-12
            )
        )
    logp = np.array(logp)
    ks = np.arange(1, K + 1, dtype=np.float64)
    best_q, best_c = None, -np.inf
    for q in range(2, 17):
        c = float(np.dot(logp, np.cos(2 * math.pi * ks * q / K)) / K)
        if c > best_c + 1e-12:
            best_q, best_c = q, c
    row = _one(spark, "cepstrum_periodicity")[0]
    assert row["peak_quefrency"] == best_q
    assert abs(row["cepstrum_peak"] - best_c) < 1e-3


def test_gwr_crosscheck(spark):
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    px = (cust["c_custkey"].to_numpy() % 40).astype(np.float64)
    py = (cust["c_custkey"].to_numpy() % 30).astype(np.float64)
    val = cust["c_acctbal"].to_numpy().astype(np.float64)
    cx = np.floor(px / 5.0).astype(int)
    cy = np.floor(py / 5.0).astype(int)
    rows = {(r["gx"], r["gy"]): r for r in _one(spark, "gwr_local_coefficients")}
    for (gx, gy), r in rows.items():
        ctr = (gx * 5.0 + 2.5, gy * 5.0 + 2.5)
        inwin = (np.abs(cx - gx) <= 1) & (np.abs(cy - gy) <= 1)
        d2 = (px - ctr[0]) ** 2 + (py - ctr[1]) ** 2
        m = inwin & (d2 < 7.5**2)
        w = (1.0 - d2[m] / 7.5**2) ** 2
        x, v = px[m], val[m]
        sw, swx, swxx = w.sum(), (w * x).sum(), (w * x * x).sum()
        swy, swxy = (w * v).sum(), (w * x * v).sum()
        beta = (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
        assert r["n_pts"] == int(m.sum())
        # engine sums go through the 9-dp lattice; numpy is unrounded
        assert abs(r["local_slope"] - beta) < 5e-4


def test_platt_crosscheck(spark):
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    b = np.minimum(
        np.floor(orders["o_totalprice"].to_numpy() / 6000.0).astype(int), 99
    )
    pos = (orders["o_orderpriority"] == "1-URGENT").to_numpy()
    buckets = {}
    for bi, p in zip(b, pos):
        np_, nn_ = buckets.get(bi, (0, 0))
        buckets[bi] = (np_ + int(p), nn_ + int(not p))
    s = np.array([bi / 100.0 for bi in buckets])
    npos = np.array([v[0] for v in buckets.values()], dtype=np.float64)
    nneg = np.array([v[1] for v in buckets.values()], dtype=np.float64)
    cnt = npos + nneg
    a = bb = 0.0
    for _ in range(5):
        p = 1.0 / (1.0 + np.exp(-(a * s + bb)))
        ga = np.sum((cnt * p - npos) * s)
        gb = np.sum(cnt * p - npos)
        haa = np.sum(cnt * p * (1 - p) * s * s)
        hab = np.sum(cnt * p * (1 - p) * s)
        hbb = np.sum(cnt * p * (1 - p))
        det = haa * hbb - hab * hab
        a, bb = a - (hbb * ga - hab * gb) / det, bb - (haa * gb - hab * ga) / det
    row = _one(spark, "platt_scaling_calibration")[0]
    assert row["n_buckets"] == len(buckets)
    assert abs(row["platt_a"] - a) < 1e-4
    assert abs(row["platt_b"] - bb) < 1e-4


def test_soundex_crosscheck(spark):
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet")
    words: dict[str, int] = {}
    for name in part["p_name"]:
        for w in str(name).upper().split():
            if w:
                words[w] = words.get(w, 0) + 1

    def soundex(w: str) -> str:
        codes = dict(zip("BFPVCGJKQSXZDTLMNR", "111122222222334556"))
        first = w[0]
        fc = codes.get(first, "")
        body = "".join(ch for ch in w[1:] if ch not in "HW")
        coded = fc + "".join(codes.get(ch, "0") for ch in body)
        out = []
        for ch in coded:
            if not out or out[-1] != ch:
                out.append(ch)
        tail = "".join(out)[len(fc):].replace("0", "")[:3]
        return first + tail.ljust(3, "0")

    census: dict[str, list[int]] = {}
    for w, cnt in words.items():
        c = census.setdefault(soundex(w), [0, 0])
        c[0] += 1
        c[1] += cnt
    rows = {r["code"]: r for r in _one(spark, "soundex_name_match")}
    assert set(rows) == set(census)
    for code, (nw, occ) in census.items():
        assert (rows[code]["n_words"], rows[code]["n_occurrences"]) == (nw, occ)
        assert rows[code]["n_candidate_pairs"] == nw * (nw - 1) // 2


def test_ordinal_association_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.int64)
    yc, yp = y[1:], y[:-1]
    n = len(yc)
    c = d = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = np.sign(yc[j] - yc[i])
            sy = np.sign(yp[j] - yp[i])
            if sx and sy:
                if sx == sy:
                    c += 1
                else:
                    d += 1
            elif sx == 0 and sy != 0:
                tx += 1
            elif sy == 0 and sx != 0:
                ty += 1
    row = _one(spark, "ordinal_association_family")[0]
    assert (row["concordant"], row["discordant"]) == (c, d)
    assert (row["ties_x_only"], row["ties_y_only"]) == (tx, ty)
    assert abs(row["gk_gamma"] - (c - d) / (c + d)) < 1e-6
    assert abs(row["somers_d_yx"] - (c - d) / (c + d + ty)) < 1e-6
    assert abs(row["somers_d_xy"] - (c - d) / (c + d + tx)) < 1e-6


def test_shapiro_francia_crosscheck(spark, daily):
    # independent probit: binary-search the normal CDF via math.erf
    y = np.sort(daily["y"].to_numpy().astype(np.float64))
    n = len(y)

    def probit(p):
        lo, hi = -10.0, 10.0
        for _ in range(80):
            mid = (lo + hi) / 2
            if 0.5 * (1 + math.erf(mid / math.sqrt(2))) < p:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2

    m = np.array([probit((i - 0.375) / (n + 0.25)) for i in range(1, n + 1)])
    w = np.corrcoef(y, m)[0, 1] ** 2
    row = _one(spark, "shapiro_francia_qq")[0]
    assert row["n_days"] == n
    # Acklam's approximation is |err| < 1.15e-9 in probit units
    assert abs(row["w_prime"] - w) < 1e-5


def test_crps_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n = len(y)
    scores = []
    for t in range(28, n):
        ens = np.array([y[t - 7 * j] for j in range(1, 5)])
        s1 = np.abs(ens - y[t]).sum() / 4
        s2 = np.abs(ens[:, None] - ens[None, :]).sum() / (2 * 16)
        scores.append(s1 - s2)
    row = _one(spark, "crps_forecast_eval")[0]
    assert row["n_days_scored"] == len(scores)
    assert abs(row["rel_mean_crps"] - np.mean(scores) / y.mean()) < 1e-6


def _midranks(v):
    order = np.argsort(v, kind="stable")
    r = np.empty(len(v), dtype=np.float64)
    i = 0
    sv = v[order]
    while i < len(v):
        j = i
        while j + 1 < len(v) and sv[j + 1] == sv[i]:
            j += 1
        r[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return r


def test_brunner_munzel_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    rn = np.arange(1, len(y) + 1)
    grp = np.isin(rn % 7, (5, 6)).astype(int)
    x0, x1 = y[grp == 0], y[grp == 1]
    n0, n1 = len(x0), len(x1)
    rc = _midranks(np.concatenate([x0, x1]))
    r0, r1 = rc[:n0], rc[n0:]
    w0, w1 = _midranks(x0), _midranks(x1)
    s0 = np.sum((r0 - w0 - r0.mean() + (n0 + 1) / 2.0) ** 2) / (n0 - 1)
    s1 = np.sum((r1 - w1 - r1.mean() + (n1 + 1) / 2.0) ** 2) / (n1 - 1)
    wstat = (
        n0 * n1 * (r1.mean() - r0.mean())
        / ((n0 + n1) * math.sqrt(n0 * s0 + n1 * s1))
    )
    p_hat = (r1.mean() - r0.mean()) / (n0 + n1) + 0.5
    row = _one(spark, "brunner_munzel_test")[0]
    assert (row["n_weekday"], row["n_weekend"]) == (n0, n1)
    assert abs(row["p_hat"] - p_hat) < 1e-6
    assert abs(row["bm_statistic"] - wstat) < 1e-6


def test_fligner_killeen_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    rn = np.arange(1, len(y) + 1)
    wd = rn % 7
    a = np.empty(len(y))
    for g in range(7):
        m = wd == g
        vals = y[m]
        # engine uses the lower median (order statistic at ceil(n/2))
        med = np.sort(vals)[math.ceil(len(vals) / 2.0) - 1]
        a[m] = np.abs(vals - med)
    # engine ranks by (a, rn): a strict row_number, not midranks; with
    # continuous data ties are measure-zero so plain ranks agree
    order = np.lexsort((rn, a))
    r = np.empty(len(y))
    r[order] = np.arange(1, len(y) + 1)

    def probit(p):
        lo, hi = -10.0, 10.0
        for _ in range(80):
            mid = (lo + hi) / 2
            if 0.5 * (1 + math.erf(mid / math.sqrt(2))) < p:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2

    scores = np.array([probit(0.5 + ri / (2.0 * (len(y) + 1))) for ri in r])
    abar = scores.mean()
    v = scores.var(ddof=1)
    stat = sum(
        (wd == g).sum() * (scores[wd == g].mean() - abar) ** 2 for g in range(7)
    ) / v
    row = _one(spark, "fligner_killeen_scale")[0]
    assert abs(row["fk_statistic"] - stat) < 1e-4


def test_quade_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    nweeks = len(y) // 7
    blocks = y[: nweeks * 7].reshape(nweeks, 7)
    rij = np.vstack([_midranks(b) for b in blocks])
    ranges = blocks.max(axis=1) - blocks.min(axis=1)
    # engine tie-breaks equal ranges by week index -> plain ranks there
    # would differ from midranks; the fixture's ranges are cents sums
    # (ties measure-zero), midranks match
    q = _midranks(ranges)
    s = (q[:, None] * (rij - 4.0)).sum(axis=0)
    a2 = np.sum((q[:, None] * (rij - 4.0)) ** 2)
    bstat = np.sum(s**2)
    f = (nweeks - 1.0) * (bstat / nweeks) / (a2 - bstat / nweeks)
    row = _one(spark, "quade_test")[0]
    assert row["n_weeks"] == nweeks
    assert abs(row["quade_f"] - f) < 1e-5


def test_dagostino_k2_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n = len(y)
    u = y - y.mean()
    m2 = np.mean(u**2)
    g1 = np.mean(u**3) / m2**1.5
    g2 = np.mean(u**4) / m2**2 - 3.0
    yy = g1 * math.sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
    beta2 = (
        3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
        / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    )
    w2 = math.sqrt(2.0 * (beta2 - 1.0)) - 1.0
    dd = 1.0 / math.sqrt(math.log(math.sqrt(w2)))
    alpha = math.sqrt(2.0 / (w2 - 1.0))
    z1 = dd * math.log(yy / alpha + math.sqrt((yy / alpha) ** 2 + 1.0))
    eg2 = -6.0 / (n + 1.0)
    varg2 = (
        24.0 * n * (n - 2.0) * (n - 3.0)
        / ((n + 1.0) ** 2 * (n + 3.0) * (n + 5.0))
    )
    x = (g2 - eg2) / math.sqrt(varg2)
    sb = (
        6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
        * math.sqrt(6.0 * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0)))
    )
    aa = 6.0 + 8.0 / sb * (2.0 / sb + math.sqrt(1.0 + 4.0 / sb**2))
    z2 = (
        (1.0 - 2.0 / (9.0 * aa))
        - ((1.0 - 2.0 / aa) / (1.0 + x * math.sqrt(2.0 / (aa - 4.0))))
        ** (1.0 / 3.0)
    ) / math.sqrt(2.0 / (9.0 * aa))
    row = _one(spark, "dagostino_k2_normality")[0]
    assert row["n_days"] == n
    assert abs(row["z_skew"] - z1) < 1e-4
    assert abs(row["z_kurt"] - z2) < 1e-4
    assert abs(row["k2_statistic"] - (z1 * z1 + z2 * z2)) < 1e-3


def test_mahalanobis_crosscheck(spark):
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cents = np.round(orders["o_totalprice"].to_numpy() * 100).astype(np.int64)
    df = pd.DataFrame({"d": orders["o_orderdate"].to_numpy(), "y": cents})
    g = df.groupby("d")["y"].agg(["sum", "count"]).sort_index()
    y = g["sum"].to_numpy().astype(np.float64)
    c = g["count"].to_numpy().astype(np.float64)
    n = len(y)
    dy, dc = y - y.mean(), c - c.mean()
    syy, scc, syc = np.dot(dy, dy), np.dot(dc, dc), np.dot(dy, dc)
    d2 = (
        (n - 1)
        * (dy * dy * scc - 2 * dy * dc * syc + dc * dc * syy)
        / (syy * scc - syc * syc)
    )
    order = np.lexsort((np.arange(n), -d2))[:10]
    rows = _one(spark, "mahalanobis_outlier_days")
    for r, i in zip(rows, order):
        assert abs(r["mahalanobis_sq"] - d2[i]) < 1e-6


def test_two_break_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n = len(y)
    p1 = np.concatenate([[0.0], np.cumsum(y)])
    p2 = np.concatenate([[0.0], np.cumsum(y * y)])

    def sseg(lo, hi):  # SSR of y[lo:hi] (0-based, exclusive hi)
        m = hi - lo
        s = p1[hi] - p1[lo]
        return p2[hi] - p2[lo] - s * s / m

    best = (np.inf, None, None)
    for a in range(30, n - 59):
        for b in range(a + 30, n - 29):
            v = sseg(0, a) + sseg(a, b) + sseg(b, n)
            if v < best[0] - 1e-9:
                best = (v, a, b)
    row = _one(spark, "two_break_segmentation")[0]
    assert (row["break_1"], row["break_2"]) == (best[1], best[2])
    sst = p2[n] - p1[n] ** 2 / n
    assert abs(row["ssr_reduction"] - (1.0 - best[0] / sst)) < 1e-6


def test_mosum_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n, G = len(y), 60
    ws = np.convolve(y, np.ones(G), mode="valid")  # ws[i] = sum y[i:i+G]
    m = np.abs(ws[G:] - ws[:-G])
    t = int(np.argmax(m))  # first max = smallest day index
    sigma = y.std(ddof=1)
    row = _one(spark, "mosum_change_scan")[0]
    assert row["change_day_index"] == t + G  # engine t = left window end rn
    assert abs(row["mosum_statistic"] - m[t] / (sigma * math.sqrt(2 * G))) < 1e-6


def test_recurrence_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    n = len(y)
    eps = 0.5 * y.std(ddof=1)
    rec = set()
    for i in range(n):
        for j in range(i + 2, n):
            if abs(y[i] - y[j]) < eps:
                rec.add((i, j))
    ndiag = sum(1 for (i, j) in rec if (i + 1, j + 1) in rec)
    row = _one(spark, "recurrence_quantification")[0]
    assert row["recurrent_pairs"] == len(rec)
    assert abs(row["determinism_rate"] - ndiag / len(rec)) < 1e-6


def test_welch_anova_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64) / 1e8
    rn = np.arange(1, len(y) + 1)
    groups = [y[rn % 7 == g] for g in range(7)]
    w = np.array([len(g) / g.var(ddof=1) for g in groups])
    m = np.array([g.mean() for g in groups])
    k = 7
    mbar = np.sum(w * m) / w.sum()
    a = np.sum(w * (m - mbar) ** 2) / (k - 1)
    b = 1.0 + 2.0 * (k - 2) / (k * k - 1.0) * np.sum(
        (1.0 - w / w.sum()) ** 2 / (np.array([len(g) for g in groups]) - 1.0)
    )
    row = _one(spark, "welch_anova_oneway")[0]
    assert row["n_groups"] == k
    assert abs(row["welch_f"] - a / b) < 1e-5


def test_mood_median_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.int64)
    rn = np.arange(1, len(y) + 1)
    gm = np.sort(y)[math.ceil(len(y) / 2.0) - 1]
    chi2 = 0.0
    p = (y > gm).mean()
    for g in range(7):
        m = rn % 7 == g
        na, n = int((y[m] > gm).sum()), int(m.sum())
        chi2 += (na - n * p) ** 2 / (n * p * (1 - p))
    row = _one(spark, "mood_median_test")[0]
    assert abs(row["mood_chi2"] - chi2) < 1e-6


def test_ansari_bradley_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.int64)
    rn = np.arange(1, len(y) + 1)
    grp = np.isin(rn % 7, (5, 6)).astype(int)
    n = len(y)
    order = np.lexsort((rn, y))
    r = np.empty(n, dtype=np.int64)
    r[order] = np.arange(1, n + 1)
    score = np.minimum(r, n + 1 - r)
    ab = int(score[grp == 1].sum())
    n1, n0 = int(grp.sum()), int((1 - grp).sum())
    stot, stot2 = int(score.sum()), int(np.sum(score.astype(object) ** 2))
    mu = n1 * stot / n
    var = n1 * n0 * (n * stot2 - stot * stot) / (n * n * (n - 1))
    row = _one(spark, "ansari_bradley_scale")[0]
    assert (row["n_weekday"], row["n_weekend"], row["ab_statistic"]) == (
        n0, n1, ab,
    )
    assert abs(row["z_score"] - (ab - mu) / math.sqrt(var)) < 1e-6


def test_kuiper_crosscheck(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    pur = ev[ev["event_type"] == "purchase"]
    # Spark dayofweek: 1 = Sunday .. 7 = Saturday
    dow = (pd.to_datetime(pur["ts"]).dt.dayofweek.to_numpy() + 2) % 7
    dow[dow == 0] = 7
    counts = np.array([(dow == d).sum() for d in range(1, 8)], dtype=np.float64)
    fe = np.cumsum(counts) / counts.sum()
    fu = np.arange(1, 8) / 7.0
    dplus, dminus = float((fe - fu).max()), float((fu - fe).max())
    row = _one(spark, "kuiper_uniformity")[0]
    assert row["n_events"] == int(counts.sum())
    assert abs(row["d_plus"] - dplus) < 1e-6
    assert abs(row["d_minus"] - dminus) < 1e-6
    assert (
        abs(row["kuiper_v_scaled"] - (dplus + dminus) * math.sqrt(counts.sum()))
        < 1e-5
    )


def test_conover_squared_ranks_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    rn = np.arange(1, len(y) + 1)
    grp = np.isin(rn % 7, (5, 6)).astype(int)
    a = np.empty(len(y))
    for g in (0, 1):
        m = grp == g
        a[m] = np.abs(y[m] - y[m].mean())
    order = np.lexsort((rn, a))
    r = np.empty(len(y))
    r[order] = np.arange(1, len(y) + 1)
    n = len(y)
    n1 = int(grp.sum())
    n0 = n - n1
    t1 = np.sum(r[grp == 1] ** 2)
    srr, sr4 = np.sum(r**2), np.sum(r**4)
    z = (t1 - n1 * srr / n) / math.sqrt(
        n1 * n0 / n / (n - 1) * (sr4 - srr * srr / n)
    )
    row = _one(spark, "conover_squared_ranks")[0]
    assert (row["n_weekday"], row["n_weekend"]) == (n0, n1)
    assert abs(row["conover_z"] - z) < 1e-5


def test_watson_u2_crosscheck(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    pur = ev[ev["event_type"] == "purchase"]
    dow = (pd.to_datetime(pur["ts"]).dt.dayofweek.to_numpy() + 2) % 7
    dow[dow == 0] = 7
    counts = np.array([(dow == d).sum() for d in range(1, 8)], dtype=np.float64)
    n = counts.sum()
    fe = np.cumsum(counts) / n
    fu = np.arange(1, 8) / 7.0
    dev = fe - fu
    m = np.sum(dev * counts) / n
    s = np.sum((dev - m) ** 2 * counts)
    row = _one(spark, "watson_u2_circular")[0]
    assert row["n_events"] == int(n)
    assert abs(row["watson_u2_scaled"] - s) < 1e-6


def test_bws_crosscheck(spark, daily):
    y = daily["y"].to_numpy().astype(np.float64)
    rn = np.arange(1, len(y) + 1)
    grp = np.isin(rn % 7, (5, 6)).astype(int)
    order = np.lexsort((rn, y))
    r = np.empty(len(y))
    r[order] = np.arange(1, len(y) + 1)
    n = len(y)
    bs = []
    for g in (0, 1):
        rk = np.sort(r[grp == g])
        nk = len(rk)
        no = n - nk
        i = np.arange(1, nk + 1, dtype=np.float64)
        frac = i / (nk + 1)
        t = (rk - n / nk * i) ** 2 / (frac * (1 - frac) * no * n / nk)
        bs.append(t.mean())
    row = _one(spark, "bws_test")[0]
    assert abs(row["bws_b"] - (bs[0] + bs[1]) / 2.0) < 1e-5
