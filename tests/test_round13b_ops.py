"""Round-13 second-wave tests: independent brute-force cross-checks
for the new operators, recomputing each ground truth a THIRD way
(plain Python/NumPy, no Spark, no SQL) so a same-recurrence DuckDB
twin cannot hide a correlated bug:

- kendall_tau_b       vs O(n^2) pair enumeration over the raw rows
- minimax_path        vs Dijkstra-style label setting on (min, max)
- graph_bipartite     vs Python BFS layering + edge parity census
- naive_bayes         vs float NB with fractions.Fraction scoring
- blocklist filter    vs str token-scan counting
- distance transform  vs brute min over feature pixels
- dtw / lcs           vs textbook O(nm) NumPy DP
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict
from fractions import Fraction

import numpy as np

from conftest import SF_SMOKE

from tb_scale_spatial_data_pipeline_spark.plans.corpus_queries import (
    _BLOCKLIST,
    QUERIES as CORPUS_QUERIES,
)
from tb_scale_spatial_data_pipeline_spark.plans.graph_queries import (
    QUERIES as GRAPH_QUERIES,
    _undirected_edges,
    _weighted_edges,
)
from tb_scale_spatial_data_pipeline_spark.plans.mlprep_queries import (
    QUERIES as MLPREP_QUERIES,
)
from tb_scale_spatial_data_pipeline_spark.plans.raster_queries import (
    QUERIES as RASTER_QUERIES,
)
from tb_scale_spatial_data_pipeline_spark.plans.stats_queries import (
    QUERIES as STATS_QUERIES,
)
from tb_scale_spatial_data_pipeline_spark.plans.timeseries_queries import (
    _DTW_LEN,
    _LCS_FUNNEL,
    _LCS_LEN,
    QUERIES as TS_QUERIES,
)


def test_kendall_tau_b_matches_pair_enumeration(spark):
    row = STATS_QUERIES["kendall_tau_b"](spark, SF_SMOKE).collect()[0]
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    spend = orders.groupby("o_custkey")["o_totalprice"].sum()
    merged = cust.join(spend, on="c_custkey", how="inner")
    bx = np.floor(merged["c_acctbal"].to_numpy(dtype=float) / 500.0).astype(int)
    by = np.floor(merged["o_totalprice"].to_numpy(dtype=float) / 50000.0).astype(
        int
    )
    n = len(bx)
    nc = nd = n1 = n2 = 0
    for i in range(n):
        dx = bx[i + 1 :] - bx[i]
        dy = by[i + 1 :] - by[i]
        nc += int(np.sum((dx != 0) & (dy != 0) & ((dx > 0) == (dy > 0))))
        nd += int(np.sum((dx != 0) & (dy != 0) & ((dx > 0) != (dy > 0))))
        n1 += int(np.sum(dx == 0))
        n2 += int(np.sum(dy == 0))
    assert row["n_rows"] == n
    assert row["n_concordant"] == nc
    assert row["n_discordant"] == nd
    n0 = n * (n - 1) // 2
    tau = (nc - nd) / np.sqrt(float(n0 - n1) * float(n0 - n2))
    assert abs(row["tau_b"] - tau) < 1e-6


def _edge_list(spark, weighted: bool):
    if weighted:
        df = _weighted_edges(spark, SF_SMOKE)[0].toPandas()
        return list(zip(df["src"], df["dst"], df["w"]))
    df = _undirected_edges(spark, SF_SMOKE).toPandas()
    return list(zip(df["u"], df["v"]))


def test_minimax_path_matches_label_setting(spark):
    got = {
        r["s_suppkey"]: r["bottleneck"]
        for r in GRAPH_QUERIES["minimax_path_bottleneck"](
            spark, SF_SMOKE
        ).collect()
    }
    adj = defaultdict(list)
    nodes = set()
    for s, d, w in _edge_list(spark, weighted=True):
        adj[s].append((d, w))
        nodes.add(s)
    # Dijkstra with the (min, max) semiring: label-setting is exact
    # because greatest() relaxation is monotone non-decreasing.
    dist = {n: 0 for n in nodes if n % 20 == 0}
    pq = [(0, n) for n in dist]
    heapq.heapify(pq)
    seen = set()
    while pq:
        d, u = heapq.heappop(pq)
        if u in seen:
            continue
        seen.add(u)
        for v, w in adj[u]:
            nd = max(d, w)
            if nd < dist.get(v, 1 << 60):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist


def test_graph_bipartite_matches_python_bfs(spark):
    row = GRAPH_QUERIES["graph_bipartite_check"](spark, SF_SMOKE).collect()[0]
    edges = _edge_list(spark, weighted=False)
    adj = defaultdict(list)
    nodes = set()
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
        nodes.update((u, v))
    hop = {n: 0 for n in nodes if n % 10 == 0}
    frontier = list(hop)
    h = 0
    while frontier and h < 6:
        h += 1
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in hop:
                    hop[v] = h
                    nxt.append(v)
        frontier = nxt
    n_conflict = sum(
        1 for u, v in edges if u in hop and v in hop and (hop[u] + hop[v]) % 2 == 0
    )
    n_reached_edges = sum(1 for u, v in edges if u in hop and v in hop)
    assert row["n_reached"] == len(hop)
    assert row["n_edges_reached"] == n_reached_edges
    assert row["n_conflict_edges"] == n_conflict
    assert row["is_bipartite"] == (1 if n_conflict == 0 else 0)


def test_naive_bayes_matches_fraction_scoring(spark):
    import hashlib

    got = {
        (r["actual"], r["predicted"]): r["n"]
        for r in MLPREP_QUERIES["naive_bayes_order_status"](
            spark, SF_SMOKE
        ).collect()
    }
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    orders["f2"] = orders["o_orderdate"].map(lambda d: d.year)
    orders["bucket"] = orders["o_orderkey"].map(
        lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:4], 16) % 100
    )
    train = orders[orders["bucket"] < 80]
    test = orders[orders["bucket"] >= 80]
    classes = sorted(train["o_orderstatus"].unique())
    n_c = train.groupby("o_orderstatus").size()
    c1 = train.groupby(["o_orderstatus", "o_orderpriority"]).size()
    c2 = train.groupby(["o_orderstatus", "f2"]).size()
    v1 = train["o_orderpriority"].nunique()
    v2 = train["f2"].nunique()
    conf = defaultdict(int)
    for _, r in test.iterrows():
        best, best_score = None, None
        for c in classes:
            num = (
                int(n_c[c])
                * (int(c1.get((c, r["o_orderpriority"]), 0)) + 1)
                * (int(c2.get((c, r["f2"]), 0)) + 1)
            )
            den = (int(n_c[c]) + v1) * (int(n_c[c]) + v2)
            score = Fraction(num, den)
            if best is None or score > best_score:
                best, best_score = c, score
        conf[(r["o_orderstatus"], best)] += 1
    assert got == dict(conf)


def test_blocklist_matches_token_scan(spark):
    got = {
        r["phrase"]: (r["n_occurrences"], r["n_docs"])
        for r in CORPUS_QUERIES["blocklist_phrase_filter"](
            spark, SF_SMOKE
        ).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    for phrase in _BLOCKLIST:
        ptoks = phrase.split(" ")
        occ, ndocs = 0, 0
        for text in docs["text"]:
            toks = text.split(" ")
            k = sum(
                1
                for i in range(len(toks) - len(ptoks) + 1)
                if toks[i : i + len(ptoks)] == ptoks
            )
            occ += k
            ndocs += 1 if k else 0
        assert got[phrase] == (occ, ndocs)


def test_distance_transform_matches_bruteforce(spark):
    got = {
        r["chebyshev_dist"]: r["n_cells"]
        for r in RASTER_QUERIES["distance_transform_chebyshev"](
            spark, SF_SMOKE
        ).collect()
    }
    xs, ys = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    fld = (
        np.sin(xs / 10.0) * 40.0
        + np.cos(ys / 12.0) * 40.0
        + 100.0
        + np.where((xs - 35.0) ** 2 + (ys - 30.0) ** 2 < 400.0, 80.0, 0.0)
    )
    feat = np.round(fld, 6) > 170.0
    fx, fy = np.nonzero(feat)
    d = np.maximum(
        np.abs(xs[:, :, None] - fx[None, None, :]),
        np.abs(ys[:, :, None] - fy[None, None, :]),
    ).min(axis=2)
    vals, counts = np.unique(d, return_counts=True)
    assert got == dict(zip(vals.tolist(), counts.tolist()))


def _np_dtw(a, b):
    n, m = len(a), len(b)
    big = 1 << 50
    dp = np.full((n + 1, m + 1), big, dtype=np.int64)
    dp[0, 0] = 0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            dp[i, j] = abs(a[i - 1] - b[j - 1]) + min(
                dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1]
            )
    return int(dp[n, m])


def _series(spark, col, cap):
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .toPandas()
        .sort_values("event_id")
    )
    out = {}
    for uid, grp in ev.groupby("user_id"):
        g = grp.head(cap)
        if col == "value":
            out[uid] = [int(round(v * 100)) for v in g["value"]]
        else:
            out[uid] = list(g["event_type"])
    return out


def test_dtw_matches_numpy_dp(spark):
    rows = TS_QUERIES["dtw_profile_distance"](spark, SF_SMOKE).collect()
    ser = _series(spark, "value", _DTW_LEN)
    ref = ser[min(ser)]
    brute = sorted(
        ((_np_dtw(s, ref), uid) for uid, s in ser.items())
    )[:20]
    got = [(r["dtw_cents"], r["user_id"]) for r in rows]
    assert got == brute
    for r in rows:
        assert r["n_points"] == len(ser[r["user_id"]])


def _py_lcs(a, b):
    n, m = len(a), len(b)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            dp[i][j] = (
                dp[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(dp[i - 1][j], dp[i][j - 1])
            )
    return dp[n][m]


def test_lcs_matches_python_dp(spark):
    got = {
        r["lcs_len"]: r["n_users"]
        for r in TS_QUERIES["lcs_funnel_alignment"](spark, SF_SMOKE).collect()
    }
    ser = _series(spark, "event_type", _LCS_LEN)
    hist = defaultdict(int)
    for s in ser.values():
        hist[_py_lcs(s, list(_LCS_FUNNEL))] += 1
    assert got == dict(hist)


def test_weighted_interval_scheduling_matches_bruteforce(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.timeseries_queries import (
        _WIS_CAP,
    )

    rows = TS_QUERIES["weighted_interval_scheduling"](spark, SF_SMOKE).collect()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .toPandas()
        .sort_values("event_id")
    )
    best_by_user = {}
    for uid, grp in ev.groupby("user_id"):
        g = grp.head(_WIS_CAP)
        iv = []
        for _, r in g.iterrows():
            s = int(r["ts"].value // 1000)  # ns -> us
            e = s + (int(round(r["value"] * 60)) + 1) * 1000000
            iv.append((e, s, int(round(r["value"] * 100))))
        iv.sort()
        n = len(iv)
        dp = [0] * (n + 1)
        for i, (e, s, v) in enumerate(iv, start=1):
            p = sum(1 for (e2, _s2, _v2) in iv if e2 <= s)
            dp[i] = max(dp[i - 1], v + dp[p])
        best_by_user[uid] = (dp[n], n)
    brute = sorted(
        ((-b, uid, n) for uid, (b, n) in best_by_user.items())
    )[:20]
    got = [(-r["best_cents"], r["user_id"], r["n_intervals"]) for r in rows]
    assert got == brute


def test_allen_census_matches_bruteforce(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.event_queries import (
        QUERIES as EVENT_QUERIES,
    )

    got = {
        r["relation"]: r["n_pairs"]
        for r in EVENT_QUERIES["allen_interval_census"](spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev = ev[ev["event_type"].isin(["click", "purchase"])]
    ivs = defaultdict(lambda: defaultdict(list))
    for _, r in ev.iterrows():
        s = int(r["ts"].value // 1000)
        e = s + (int(round(r["value"] * 60)) + 1) * 1000000
        ivs[r["user_id"]][r["event_type"]].append((s, e))

    def allen(s1, e1, s2, e2):
        if e1 < s2:
            return "before"
        if e2 < s1:
            return "after"
        if e1 == s2:
            return "meets"
        if e2 == s1:
            return "met_by"
        if s1 == s2 and e1 == e2:
            return "equals"
        if s1 == s2:
            return "starts" if e1 < e2 else "started_by"
        if e1 == e2:
            return "finishes" if s1 > s2 else "finished_by"
        if s1 > s2 and e1 < e2:
            return "during"
        if s1 < s2 and e1 > e2:
            return "contains"
        return "overlaps" if s1 < s2 else "overlapped_by"

    hist = defaultdict(int)
    for u in ivs:
        for c in ivs[u]["click"]:
            for p in ivs[u]["purchase"]:
                hist[allen(*c, *p)] += 1
    assert got == dict(hist)


def _lev(a, b):
    n, m = len(a), len(b)
    dp = list(range(m + 1))
    for i in range(1, n + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, m + 1):
            cur = dp[j]
            dp[j] = min(
                dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
            )
            prev = cur
    return dp[m]


def test_qgram_edit_join_matches_bruteforce(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.text_queries import (
        QUERIES as TEXT_QUERIES,
    )

    got = {
        (r["name_a"], r["name_b"]): (r["edit_dist"], r["n_part_pairs"])
        for r in TEXT_QUERIES["qgram_edit_join"](spark, SF_SMOKE).collect()
    }
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").toPandas()
    cnt = part.groupby("p_name").size()
    names = sorted(cnt.index)
    brute = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            d = _lev(a, b)
            if d <= 2:
                brute[(a, b)] = (d, int(cnt[a]) * int(cnt[b]))
    assert got == brute


def test_em_gmm_matches_numpy_lockstep(spark):
    row = STATS_QUERIES["em_gaussian_mixture"](spark, SF_SMOKE).collect()[0]
    x = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .toPandas()["value"]
        .to_numpy(dtype=np.float64)
    )
    n = len(x)
    mean = round(float(np.sum(np.round(x, 2))) / n, 12)
    var0 = round(float(np.sum(np.round(x * x, 4))) / n - mean * mean, 12)
    w1 = w2 = 0.5
    mu1, mu2 = round(mean - np.sqrt(var0), 12), round(mean + np.sqrt(var0), 12)
    v1 = v2 = var0
    for _ in range(3):
        g1 = np.exp(-((x - mu1) ** 2) / (2 * v1)) / np.sqrt(v1)
        g2 = np.exp(-((x - mu2) ** 2) / (2 * v2)) / np.sqrt(v2)
        r2 = np.round(w2 * g2 / (w1 * g1 + w2 * g2), 6)
        r1 = 1.0 - r2
        s1, s2 = float(np.sum(r1)), float(np.sum(r2))
        s1x = float(np.sum(np.round(r1 * x, 8)))
        s2x = float(np.sum(np.round(r2 * x, 8)))
        s1v = float(np.sum(np.round(r1 * (x - mu1) ** 2, 6)))
        s2v = float(np.sum(np.round(r2 * (x - mu2) ** 2, 6)))
        w1, w2 = round(s1 / n, 12), round(s2 / n, 12)
        mu1, mu2 = round(s1x / s1, 12), round(s2x / s2, 12)
        v1, v2 = round(s1v / s1, 12), round(s2v / s2, 12)
    # numpy rounding/summation is NOT the engines' lockstep path, so
    # compare to 1e-5 (the engines themselves are checked bit-exact
    # against each other by the differential harness)
    assert row["n_points"] == n
    assert abs(row["w2"] - w2) < 1e-5
    assert abs(row["mu1"] - mu1) < 1e-4
    assert abs(row["mu2"] - mu2) < 1e-4
    assert abs(row["sd1"] - np.sqrt(v1)) < 1e-4
    assert abs(row["sd2"] - np.sqrt(v2)) < 1e-4
    # the mixture must actually separate: two distinct means, sane
    # weights
    assert row["mu1"] < row["mu2"]
    assert 0.0 < row["w2"] < 1.0


def test_xcorr_lag_matches_bruteforce(spark):
    rows = TS_QUERIES["cross_correlation_lag"](spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    hours = (ev["ts"].astype("int64") // 1000) // 3600000000
    c = hours[ev["event_type"] == "click"].value_counts()
    p = hours[ev["event_type"] == "purchase"].value_counts()
    brute = defaultdict(int)
    for hc, nc in c.items():
        for hp, np_ in p.items():
            if abs(hp - hc) <= 24:
                brute[hp - hc] += nc * np_
    got = {r["lag"]: r["xcorr"] for r in rows}
    assert got == dict(brute)
    peak = [r["lag"] for r in rows if r["is_peak"] == 1]
    best = sorted(brute.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    assert peak == [best]


def test_haar_energy_matches_numpy(spark):
    rows = TS_QUERIES["haar_wavelet_energy"](spark, SF_SMOKE).collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    d0 = orders["o_orderdate"].min()
    idx = (orders["o_orderdate"] - d0).dt.days
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    n = int(idx.max()) + 1
    sig = [0] * n
    present = [False] * n  # the query's n_coeffs counts non-empty groups
    for i, c in zip(idx, cents):
        sig[i] += int(c)
        present[i] = True
    for r in rows:
        m = (len(sig) + 1) // 2

        def child(arr, j, default):
            return arr[j] if j < len(arr) else default

        a = [sig[2 * i] + child(sig, 2 * i + 1, 0) for i in range(m)]
        det = [sig[2 * i] - child(sig, 2 * i + 1, 0) for i in range(m)]
        pres = [
            present[2 * i] or child(present, 2 * i + 1, False)
            for i in range(m)
        ]
        assert r["n_coeffs"] == sum(pres)
        assert r["detail_energy"] == float(sum(x * x for x in det))
        sig, present = a, pres


def test_dft_power_matches_numpy(spark):
    rows = TS_QUERIES["dft_seasonal_power"](spark, SF_SMOKE).collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    d0 = orders["o_orderdate"].min()
    g = (
        orders.assign(d=(orders["o_orderdate"] - d0).dt.days)
        .groupby("d")["o_totalprice"]
        .sum()
    )
    d = g.index.to_numpy(dtype=float)
    x = (g.to_numpy(dtype=float) * 100).round()
    for r in rows:
        p = r["period"]
        cc = float(np.sum(np.round(x * np.cos(2 * np.pi * d / p), 6)))
        ss = float(np.sum(np.round(x * np.sin(2 * np.pi * d / p), 6)))
        amp = np.sqrt(cc * cc + ss * ss) / len(d) / 100
        assert r["n_days"] == len(d)
        assert abs(r["amplitude_dollars"] - amp) < 1e-4


def test_poisson_glm_matches_numpy_irls(spark):
    row = STATS_QUERIES["poisson_glm_trend"](spark, SF_SMOKE).collect()[0]
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    d0 = orders["o_orderdate"].min()
    y = (
        orders.assign(d=(orders["o_orderdate"] - d0).dt.days)
        .groupby("d")
        .size()
    )
    d = y.index.to_numpy(dtype=float)
    yv = y.to_numpy(dtype=float)
    x = d / d.max()
    b0, b1 = round(float(np.log(yv.sum() / len(yv))), 12), 0.0
    for _ in range(3):
        eta = b0 + b1 * x
        mu = np.exp(eta)
        z = eta + (yv - mu) / mu
        w = mu
        sw = float(np.sum(np.round(w, 6)))
        swx = float(np.sum(np.round(w * x, 6)))
        swxx = float(np.sum(np.round(w * x * x, 6)))
        swz = float(np.sum(np.round(w * z, 6)))
        swxz = float(np.sum(np.round(w * z * x, 6)))
        det = sw * swxx - swx * swx
        b0 = round((swxx * swz - swx * swxz) / det, 12)
        b1 = round((sw * swxz - swx * swz) / det, 12)
    assert row["n_days"] == len(yv)
    assert abs(row["b0"] - b0) < 1e-4
    assert abs(row["b1"] - b1) < 1e-4
    assert abs(row["rate_ratio"] - np.exp(b1)) < 1e-4


def _py_lis(s):
    best = []
    for i, v in enumerate(s):
        best.append(1 + max((best[j] for j in range(i) if s[j] < v), default=0))
    return max(best, default=0)


def test_lis_matches_python_dp(spark):
    got = {
        r["lis_len"]: r["n_users"]
        for r in TS_QUERIES["lis_value_journey"](spark, SF_SMOKE).collect()
    }
    ser = _series(spark, "value", 16)
    hist = defaultdict(int)
    for s in ser.values():
        hist[_py_lis(s)] += 1
    assert got == dict(hist)


def test_geodesic_area_matches_numpy_formula(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.spatial_queries import (
        _EARTH_R_KM,
        QUERIES as SPATIAL_QUERIES,
    )

    rows = SPATIAL_QUERIES["geodesic_polygon_area"](spark, SF_SMOKE).collect()
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").toPandas()
    got = {r["poly_id"]: r["area_km2"] for r in rows}
    assert len(got) == len(part)
    for _, p in part.iterrows():
        k, s = int(p["p_partkey"]), int(p["p_size"])
        xs = [k % 32, k % 32 + s, k % 32 + s + k % 7 + 1, k % 32 + s, k % 32]
        ys = [k % 24, k % 24, k % 24 + s, k % 24 + 2 * s, k % 24 + 2 * s]
        lon = np.radians(np.array(xs) / 2.0)
        lat = np.radians(np.array(ys) / 2.0 - 30.0)
        n = 5
        tot = sum(
            (lon[(i + 1) % n] - lon[(i - 1) % n]) * np.sin(lat[i])
            for i in range(n)
        )
        area = abs(tot) * _EARTH_R_KM * _EARTH_R_KM / 2.0
        assert abs(got[k] - area) < 1e-2, k


def test_sprt_matches_python_walk(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.experiment_queries import (
        QUERIES as EXP_QUERIES,
    )

    row = EXP_QUERIES["sprt_sequential_test"](spark, SF_SMOKE).collect()[0]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev = ev[ev["event_type"].isin(["click", "purchase"])]
    day = (ev["ts"].dt.normalize() - ev["ts"].dt.normalize().min()).dt.days
    g = ev.assign(d=day).groupby("d")
    x = g.apply(lambda s: int((s["event_type"] == "purchase").sum()))
    n = g.size()
    la, lb = np.log(0.55 / 0.5), np.log(0.45 / 0.5)
    hi, lo = round(np.log(0.95 / 0.05), 12), round(np.log(0.05 / 0.95), 12)
    cum, decision, dday = 0.0, "continue", None
    for d in sorted(n.index):
        cum += round(x[d] * la + (n[d] - x[d]) * lb, 12)
        if decision == "continue" and (cum >= hi or cum <= lo):
            decision = "accept_h1" if cum >= hi else "accept_h0"
            dday, dllr = d, cum
    if decision == "continue":
        dday, dllr = int(max(n.index)), cum
    assert row["n_days"] == len(n)
    assert row["decision"] == decision
    assert row["decision_day"] == dday
    assert abs(row["llr"] - dllr) < 1e-5


def test_atkinson_matches_numpy(spark):
    row = STATS_QUERIES["atkinson_inequality_index"](spark, SF_SMOKE).collect()[
        0
    ]
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    s = orders.groupby("o_custkey")["o_totalprice"].sum().to_numpy(dtype=float)
    mean = s.mean()
    geo = np.exp(np.log(s).mean())
    assert row["n_customers"] == len(s)
    assert abs(row["mean_spend"] - mean) < 1e-2
    assert abs(row["geomean_spend"] - geo) < 1e-2
    assert abs(row["atkinson_1"] - (1 - geo / mean)) < 1e-6
    assert 0.0 < row["atkinson_1"] < 1.0


def test_bwt_runs_match_python(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.text_queries import (
        _BWT_PREFIX,
        QUERIES as TEXT_QUERIES,
    )

    rows = TEXT_QUERIES["bwt_run_census"](spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    stats = {}
    for _, d in docs.iterrows():
        s = d["text"][:_BWT_PREFIX]
        n = len(s)
        bwt = "".join(
            s[(i - 1) % n]
            for i in sorted(range(n), key=lambda i: s[i:] + s[:i])
        )
        runs = 1 + sum(1 for a, b in zip(bwt, bwt[1:]) if a != b)
        stats[d["doc_id"]] = (n, runs, round(runs / n, 6))
    brute = sorted(
        ((v[2], k, v[0], v[1]) for k, v in stats.items())
    )[:20]
    got = [(r["run_ratio"], r["doc_id"], r["n_chars"], r["bwt_runs"]) for r in rows]
    assert got == brute


def test_optimal_kmeans_1d_matches_python_dp(spark):
    rows = STATS_QUERIES["optimal_kmeans_1d"](spark, SF_SMOKE).collect()
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").toPandas()
    b = np.floor(cust["c_acctbal"].to_numpy(dtype=float) / 100.0).astype(int)
    vals, cnts = np.unique(b, return_counts=True)
    m = len(vals)

    def cost(lo, hi):  # weighted SSE of vals[lo..hi] inclusive
        w = cnts[lo : hi + 1].astype(float)
        v = vals[lo : hi + 1].astype(float)
        return round(float((w * v * v).sum() - (w * v).sum() ** 2 / w.sum()), 6)

    got = {r["k"]: (r["n_values"], r["opt_sse"]) for r in rows}
    dp = [cost(0, j) for j in range(m)]
    assert got[1] == (m, round(dp[-1], 4))
    for k in (2, 3):
        dp = [
            min(dp[i - 1] + cost(i, j) for i in range(1, j + 1))
            if j >= 1
            else float("inf")
            for j in range(m)
        ]
        assert abs(got[k][1] - round(dp[-1], 4)) < 1e-3, k


def test_aalen_johansen_matches_python(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.analytics_queries import (
        QUERIES as AN_QUERIES,
    )

    rows = AN_QUERIES["aalen_johansen_cif"](spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev["d"] = ev["ts"].dt.normalize()
    users = {}
    for uid, g in ev.groupby("user_id"):
        comp = g[g["event_type"].isin(["purchase", "error"])]
        d0, dl = g["d"].min(), g["d"].max()
        if len(comp):
            dstar = comp["d"].min()
            cands = sorted(comp[comp["d"] == dstar]["event_type"])
            users[uid] = ((dstar - d0).days, cands[0])
        else:
            users[uid] = ((dl - d0).days, "censored")
    n = len(users)
    from collections import Counter

    byt = defaultdict(Counter)
    for t_, c in users.values():
        byt[t_][c] += 1
    s = 1.0
    at_risk = n
    cif_p = cif_e = 0.0
    expect = []
    for t_ in sorted(byt):
        dp = byt[t_]["purchase"]
        de = byt[t_]["error"]
        m = sum(byt[t_].values())
        if dp + de >= 1:
            cif_p += s * dp / at_risk
            cif_e += s * de / at_risk
            expect.append((t_, at_risk, dp, de, round(cif_p, 6), round(cif_e, 6)))
            s *= 1.0 - (dp + de) / at_risk
        at_risk -= m
    got = [
        (
            r["t"],
            r["n_risk"],
            r["d_purchase"],
            r["d_error"],
            round(r["cif_purchase"], 6),
            round(r["cif_error"], 6),
        )
        for r in rows
    ]
    assert got == expect
    # CIFs are monotone and sum to < 1 (the competing-risk property
    # 1 - KM overstates)
    assert rows[-1]["cif_purchase"] + rows[-1]["cif_error"] <= 1.0


def test_hmm_viterbi_matches_python(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.event_queries import (
        QUERIES as EVENT_QUERIES,
    )

    got = {
        r["final_state"]: r["n_users"]
        for r in EVENT_QUERIES["hmm_viterbi_journey"](spark, SF_SMOKE).collect()
    }
    ser = _series(spark, "event_type", 16)
    em_e = {"click": 3, "view": 3, "purchase": 3, "error": 1, "signup": 0}
    em_c = {"error": 5, "purchase": 2, "click": 1, "view": 1, "signup": 1}
    hist = defaultdict(int)
    for s in ser.values():
        ve, vc = 5, 5
        for e in s:
            ve, vc = em_e[e] * max(ve * 8, vc * 3), em_c[e] * max(
                ve * 2, vc * 7
            )
        hist["engaged" if ve >= vc else "error_prone"] += 1
    assert got == dict(hist)


def test_bradley_terry_matches_python_mm(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.analytics_queries import (
        QUERIES as AN_QUERIES,
    )

    rows = AN_QUERIES["bradley_terry_ratings"](spark, SF_SMOKE).collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").toPandas()
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").toPandas()
    df = li.merge(part[["p_partkey", "p_brand"]], left_on="l_partkey",
                  right_on="p_partkey")
    df["m"] = df["l_shipdate"].map(lambda d: d.year * 12 + d.month)
    rev = df.groupby(["p_brand", "m"])["l_extendedprice"].sum().round(2)
    months = rev.index.get_level_values("m").unique()
    brands = sorted(rev.index.get_level_values("p_brand").unique())
    wins = defaultdict(int)
    nab = defaultdict(int)
    for m in months:
        rm = rev.xs(m, level="m")
        for a in rm.index:
            for b in rm.index:
                if a == b:
                    continue
                if rm[a] > rm[b]:
                    wins[(a, b)] += 1
                if rm[a] != rm[b]:
                    nab[(a, b)] += 1
    w = {a: sum(v for (x, _b), v in wins.items() if x == a) for a in brands}
    s = {a: 1.0 for a in brands}
    for _ in range(5):
        raw = {}
        for a in brands:
            denom = sum(
                round(nab[(a, b)] / (s[a] + s[b]), 12)
                for b in brands
                if b != a and nab[(a, b)] > 0
            )
            raw[a] = round(w[a] / denom, 12)
        tot = sum(round(v, 12) for v in raw.values())
        s = {a: round(raw[a] * len(brands) / tot, 12) for a in brands}
    got = {r["brand"]: (r["n_wins"], r["bt_skill"]) for r in rows}
    for a in brands:
        assert got[a][0] == w[a]
        assert abs(got[a][1] - round(s[a], 6)) < 1e-5, a
    # the MM fixed point must rank a dominant winner above a dominant
    # loser in win share
    top = max(brands, key=lambda a: got[a][1])
    bot = min(brands, key=lambda a: got[a][1])
    assert w[top] > w[bot]


def test_causal_tier_matches_numpy(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.experiment_queries import (
        QUERIES as EXP_QUERIES,
    )

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    spend = orders.groupby("o_custkey")["o_totalprice"].sum()
    merged = cust.join(spend, on="c_custkey", how="inner")

    # RDD
    row = EXP_QUERIES["regression_discontinuity"](spark, SF_SMOKE).collect()[0]
    win = merged[(merged["c_acctbal"] >= 3000) & (merged["c_acctbal"] < 7000)]
    x = win["c_acctbal"].to_numpy(dtype=float) - 5000
    y = win["o_totalprice"].to_numpy(dtype=float)

    def icpt(mask):
        xm, ym = x[mask], y[mask]
        b = np.polyfit(xm, ym, 1)
        return b[1]

    assert row["n_treated"] == int((x >= 0).sum())
    assert abs(row["limit_above"] - icpt(x >= 0)) < 1e-2
    assert abs(row["limit_below"] - icpt(x < 0)) < 1e-2
    assert abs(
        row["rdd_effect"] - (row["limit_above"] - row["limit_below"])
    ) < 1e-3

    # IV / Wald
    row = EXP_QUERIES["iv_wald_estimator"](spark, SF_SMOKE).collect()[0]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    g = ev.groupby("user_id")
    xc = g.apply(lambda s: int((s["event_type"] == "click").sum()))
    yv = g.apply(
        lambda s: float(
            s.loc[s["event_type"] == "purchase", "value"].round(2).sum()
        )
    )
    z = (xc.index % 2).astype(int)
    fs = xc[z == 1].mean() - xc[z == 0].mean()
    wald = (yv[z == 1].mean() - yv[z == 0].mean()) / fs
    assert abs(row["first_stage"] - fs) < 1e-6
    assert abs(row["wald_estimate"] - wald) < 1e-5

    # Oaxaca-Blinder
    row = EXP_QUERIES["oaxaca_blinder_gap"](spark, SF_SMOKE).collect()[0]
    bg = merged[merged["c_mktsegment"] == "BUILDING"]
    mg = merged[merged["c_mktsegment"] == "MACHINERY"]
    bb = np.polyfit(
        mg["c_acctbal"].astype(float), mg["o_totalprice"].astype(float), 1
    )[0]
    gap = bg["o_totalprice"].mean() - mg["o_totalprice"].mean()
    expl = bb * (bg["c_acctbal"].mean() - mg["c_acctbal"].mean())
    assert abs(row["gap"] - gap) < 1e-2
    assert abs(row["explained"] - expl) < 1e-2
    assert abs(row["gap"] - (row["explained"] + row["unexplained"])) < 1e-3


def test_kde_hotspots_match_bruteforce(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.spatial_queries import (
        _KDE_H2,
        QUERIES as SP_QUERIES,
    )

    rows = SP_QUERIES["kde_epanechnikov_hotspots"](spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    x = (ev["event_id"] % 256).to_numpy(dtype=np.int64)
    y = (ev["user_id"] * 7 % 256).to_numpy(dtype=np.int64)
    locs = Counter(zip(x, y))
    keys = list(locs)
    dens = {}
    for (ax, ay) in keys:
        s = 0
        for (bx, by), mb in locs.items():
            d2 = (ax - bx) ** 2 + (ay - by) ** 2
            if d2 < _KDE_H2:
                s += locs[(ax, ay)] * mb * (_KDE_H2 - d2)
        dens[(ax, ay)] = s
    brute = sorted(
        ((-v, kx, ky) for (kx, ky), v in dens.items())
    )[:20]
    got = [(-r["density"], r["x"], r["y"]) for r in rows]
    assert got == brute


def test_emerging_hotspots_match_python(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.spatial_queries import (
        QUERIES as SP_QUERIES,
    )

    rows = SP_QUERIES["emerging_hotspot_cells"](spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    import datetime

    cx = (ev["event_id"] % 256) // 32
    cy = (ev["user_id"] * 7 % 256) // 32
    d = (ev["ts"].dt.normalize() - pdTimestamp2024()).dt.days
    cnt = Counter(zip(cx, cy, d))
    bycell = defaultdict(dict)
    for (a, b, dd), c in cnt.items():
        bycell[(a, b)][dd] = c
    expect = {}
    for cell, days in bycell.items():
        ds = sorted(days)
        s = sum(
            (days[ds[j]] > days[ds[i]]) - (days[ds[j]] < days[ds[i]])
            for i in range(len(ds))
            for j in range(i + 1, len(ds))
        )
        trend = (
            "intensifying" if s >= 20
            else "diminishing" if s <= -20 else "stable"
        )
        expect[cell] = (len(ds), s, trend)
    got = {
        (r["cx"], r["cy"]): (r["n_days"], r["s_stat"], r["trend"])
        for r in rows
    }
    assert got == expect


def pdTimestamp2024():
    import pandas as pd

    return pd.Timestamp("2024-01-01")


def test_lorenz_deciles_match_numpy(spark):
    rows = STATS_QUERIES["lorenz_curve_deciles"](spark, SF_SMOKE).collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    s = orders.groupby("o_custkey")["o_totalprice"].sum().round(2)
    s = s.reset_index().sort_values(["o_totalprice", "o_custkey"])
    v = s["o_totalprice"].to_numpy(dtype=float)
    n = len(v)
    dec = (10 * (np.arange(n) + 1) + n - 1) // n
    tot = v.sum()
    cum = 0.0
    assert len(rows) == 10
    for r in rows:
        mask = dec == r["decile"]
        cum += v[mask].sum()
        assert r["n_customers"] == int(mask.sum())
        assert abs(r["spend_share"] - v[mask].sum() / tot) < 1e-6
        assert abs(r["lorenz_cum"] - cum / tot) < 1e-6
    assert abs(rows[-1]["lorenz_cum"] - 1.0) < 1e-9
    # Lorenz convexity: shares nondecreasing across deciles
    shares = [r["spend_share"] for r in rows]
    assert shares == sorted(shares)


def test_sfca_matches_bruteforce(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.spatial_queries import (
        _SFCA_D0,
        QUERIES as SP_QUERIES,
    )

    rows = SP_QUERIES["sfca_accessibility"](spark, SF_SMOKE).collect()
    sup = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet").toPandas()
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").toPandas()
    supply = Counter(
        zip(sup["s_suppkey"] * 11 % 64, sup["s_suppkey"] * 5 % 64)
    )
    demand = Counter(zip(cust["c_custkey"] % 64, cust["c_custkey"] * 3 % 64))

    def near(a, b):
        return abs(a[0] - b[0]) <= _SFCA_D0 and abs(a[1] - b[1]) <= _SFCA_D0

    ratio = {}
    for s, cap in supply.items():
        reach = sum(p for d, p in demand.items() if near(s, d))
        if reach:  # inner-join semantics: unreachable sites drop out
            ratio[s] = cap / reach
    acc = {
        d: (pop, sum(round(r, 12) for s, r in ratio.items() if near(d, s)))
        for d, pop in demand.items()
    }
    brute = sorted(
        ((-round(v, 9), x, y, p) for (x, y), (p, v) in acc.items())
    )[:20]
    got = [(-r["accessibility"], r["x"], r["y"], r["pop"]) for r in rows]
    assert got == brute


def test_newsvendor_matches_numpy(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.olap_queries import (
        QUERIES as OLAP_QUERIES,
    )

    rows = OLAP_QUERIES["newsvendor_quantile_stock"](spark, SF_SMOKE).collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").toPandas()
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").toPandas()
    df = li.merge(part[["p_partkey", "p_brand"]], left_on="l_partkey",
                  right_on="p_partkey")
    daily = df.groupby(["p_brand", "l_shipdate"])["l_quantity"].sum()
    got = {r["brand"]: (r["n_days"], r["stock_level"], r["service_level"])
           for r in rows}
    for brand, s in daily.groupby(level=0):
        q = np.sort(s.to_numpy(dtype=np.int64))
        n = len(q)
        stock = int(q[int(np.ceil(0.8 * n)) - 1])
        service = float((q <= stock).sum()) / n
        assert got[brand][0] == n
        assert got[brand][1] == stock
        assert abs(got[brand][2] - service) < 1e-9


def test_huffman_cost_matches_heapq(spark):
    import heapq as hq

    from tb_scale_spatial_data_pipeline_spark.plans.lm_queries import (
        _HUFF_K,
        QUERIES as LM_QUERIES,
    )

    row = LM_QUERIES["huffman_code_cost"](spark, SF_SMOKE).collect()[0]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    cnt = Counter(w for t_ in docs["text"] for w in t_.split(" ") if w)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_HUFF_K]
    ws = [c for _w, c in top]
    hq.heapify(ws)
    cost = 0
    while len(ws) > 1:
        a, b = hq.heappop(ws), hq.heappop(ws)
        cost += a + b
        hq.heappush(ws, a + b)
    s = sum(c for _w, c in top)
    hbits = sum(c * np.log2(s / c) for _w, c in top)
    assert row["n_symbols"] == len(top)
    assert row["total_tokens"] == s
    assert row["huffman_bits"] == cost
    assert abs(row["shannon_bound_bits"] - hbits) < 1e-4
    # Shannon bound can never exceed the optimal code cost
    assert row["shannon_bound_bits"] <= row["huffman_bits"]


def test_gravity_model_matches_numpy(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.spatial_queries import (
        QUERIES as SP_QUERIES,
    )

    row = SP_QUERIES["gravity_model_calibration"](spark, SF_SMOKE).collect()[0]
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .toPandas()
        .sort_values("event_id")
    )
    trips = Counter()
    for _uid, g in ev.groupby("user_id"):
        cells = [
            (
                int(e % 256) // 16,
                (int(u * 7 % 256) + int(e % 16)) // 16,
            )
            for e, u in zip(g["event_id"], g["user_id"])
        ]
        for a, b in zip(cells, cells[1:]):
            if a != b:
                trips[(a, b)] += 1
    mo = Counter()
    md = Counter()
    for (a, b), t_ in trips.items():
        mo[a] += t_
        md[b] += t_
    lx, ly = [], []
    for (a, b), t_ in trips.items():
        d2 = (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
        lx.append(np.log(float(d2)) / 2)
        ly.append(np.log(t_ / (mo[a] * float(md[b]))))
    lx, ly = np.array(lx), np.array(ly)
    slope, icpt = np.polyfit(lx, ly, 1)
    assert row["n_flows"] == len(lx)
    assert abs(row["deterrence_c"] - (-slope)) < 1e-4
    assert abs(row["log_k"] - icpt) < 1e-4
    # distance must deter: the exponent is positive on any plausible
    # movement process
    assert row["deterrence_c"] > 0


def test_rmst_matches_python_km_area(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.analytics_queries import (
        _RMST_TAU,
        QUERIES as AN_QUERIES,
    )

    rows = AN_QUERIES["rmst_survival"](spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    users = {}
    for uid, g in ev.groupby("user_id"):
        t_ = (g["ts"].max().normalize() - g["ts"].min().normalize()).days
        last_ms = g["ts"].astype("int64").max() // 10**6
        purch = g[
            (g["event_type"] == "purchase")
            & (g["ts"].astype("int64") // 10**6 >= last_ms - 259200000)
        ]
        users[uid] = (uid % 4, t_, 0 if len(purch) else 1)
    got = {r["cohort"]: (r["n_users"], r["rmst_days"]) for r in rows}
    for cohort in sorted({c for c, _t, _d in users.values()}):
        mem = [(t_, d) for c, t_, d in users.values() if c == cohort]
        n = len(mem)
        byt = defaultdict(lambda: [0, 0])
        for t_, d in mem:
            byt[t_][0] += d
            byt[t_][1] += 1
        at_risk, s, rmst, prev_t = n, 1.0, 0.0, 0.0
        for t_ in sorted(byt):
            d, m = byt[t_]
            if d >= 1 and t_ < _RMST_TAU:
                if rmst == 0.0:
                    rmst = min(t_, _RMST_TAU)  # leading strip at S=1
                else:
                    rmst += s_prev * (min(t_, _RMST_TAU) - prev_t)
                s *= 1.0 - d / at_risk
                s_prev, prev_t = s, t_
            at_risk -= m
        if rmst == 0.0:
            rmst = _RMST_TAU if not any(
                d >= 1 and t_ < _RMST_TAU for t_, (d, m) in byt.items()
            ) else rmst
        else:
            rmst += s_prev * (_RMST_TAU - prev_t)
        assert got[cohort][0] == n
        assert abs(got[cohort][1] - rmst) < 1e-6, cohort


def test_panel_fe_matches_numpy(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.experiment_queries import (
        QUERIES as EXP_QUERIES,
    )

    row = EXP_QUERIES["panel_twoway_fe"](spark, SF_SMOKE).collect()[0]
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").toPandas()
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").toPandas()
    df = li.merge(part[["p_partkey", "p_brand"]], left_on="l_partkey",
                  right_on="p_partkey")
    df["m"] = df["l_shipdate"].map(lambda d: d.year * 12 + d.month)
    g = df.groupby(["p_brand", "m"]).agg(
        y=("l_extendedprice", "sum"), x=("l_quantity", "sum")
    )
    g["y"] = g["y"].round(2) / 1000
    g = g.reset_index()
    xb, yb = g["x"].mean(), g["y"].mean()
    gb = g.groupby("p_brand")[["x", "y"]].transform("mean")
    gmn = g.groupby("m")[["x", "y"]].transform("mean")
    xt = g["x"] - gb["x"] - gmn["x"] + xb
    yt = g["y"] - gb["y"] - gmn["y"] + yb
    fe = float((xt * yt).sum() / (xt * xt).sum())
    xp, yp = g["x"] - xb, g["y"] - yb
    pooled = float((xp * yp).sum() / (xp * xp).sum())
    assert row["n_cells"] == len(g)
    assert abs(row["fe_slope"] - fe) < 1e-6
    assert abs(row["pooled_slope"] - pooled) < 1e-6


def test_cohort_ltv_matches_python(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.revenue_queries import (
        QUERIES as REV_QUERIES,
    )
    import pandas as pd

    rows = REV_QUERIES["cohort_ltv_curve"](spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    origin = pd.Timestamp("2024-01-01")
    wk = ((ev["ts"].dt.normalize() - origin).dt.days // 7).astype(int)
    ev = ev.assign(wk=wk)
    cohorts = ev.groupby("user_id")["wk"].min()
    sizes = cohorts.value_counts()
    p = ev[ev["event_type"] == "purchase"].copy()
    p["cohort"] = p["user_id"].map(cohorts)
    p["age"] = p["wk"] - p["cohort"]
    p["v"] = p["value"].round(2)
    rev = p.groupby(["cohort", "age"])["v"].sum()
    got = {(r["cohort"], r["age"]): (r["n_users"], r["cum_ltv_per_user"])
           for r in rows}
    expect = {}
    for cohort, grp in rev.groupby(level=0):
        cum = 0.0
        for (c, age), v in grp.items():
            cum += v
            expect[(c, age)] = (
                int(sizes[c]),
                round(cum / sizes[c], 6),
            )
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0]
        assert abs(got[k][1] - expect[k][1]) < 1e-6


def test_weibull_fit_matches_numpy(spark):
    row = STATS_QUERIES["weibull_fit_lifetimes"](spark, SF_SMOKE).collect()[0]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    g = ev.groupby("user_id")["ts"]
    t_ = (g.max().dt.normalize() - g.min().dt.normalize()).dt.days
    t_ = np.sort(t_[t_ > 0].to_numpy(dtype=float))
    n = len(t_)
    i = np.arange(1, n + 1)
    lx = np.log(t_)
    ly = np.log(-np.log(1 - (i - 0.3) / (n + 0.4)))
    slope, icpt = np.polyfit(lx, ly, 1)
    assert row["n_lifetimes"] == n
    assert abs(row["shape_k"] - slope) < 1e-4
    assert abs(row["scale_lambda"] - np.exp(-icpt / slope)) < 1e-3
    assert row["shape_k"] > 0 and row["scale_lambda"] > 0


def test_hurst_rs_matches_numpy(spark):
    from tb_scale_spatial_data_pipeline_spark.plans.timeseries_queries import (
        _HURST_NS,
        QUERIES as TSQ,
    )

    rows = TSQ["hurst_exponent_rs"](spark, SF_SMOKE).collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    d0 = orders["o_orderdate"].min()
    idx = (orders["o_orderdate"] - d0).dt.days
    x = np.zeros(int(idx.max()) + 1)
    for i in idx:
        x[i] += 1
    got = {r["window_n"]: (r["n_windows"], r["avg_rs"]) for r in rows}
    lx, ly = [], []
    for n in _HURST_NS:
        rss = []
        for w in range(len(x) // n):
            seg = x[w * n : (w + 1) * n]
            mu = seg.mean()
            z = np.cumsum(seg - mu)
            s = np.sqrt(((seg - mu) ** 2).sum() / n)
            if s > 0:
                rss.append((z.max() - z.min()) / s)
        assert got[n][0] == len(rss)
        assert abs(got[n][1] - np.mean(rss)) < 1e-6
        lx.append(np.log(n))
        ly.append(np.log(np.mean(rss)))
    h = np.polyfit(lx, ly, 1)[0]
    assert abs(rows[0]["hurst"] - h) < 1e-4
    assert 0.0 < rows[0]["hurst"] < 1.0
