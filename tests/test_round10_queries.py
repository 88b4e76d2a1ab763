"""Round-10 additions: 4-cycle census, nation modularity, paired /
robust tests (McNemar, Brown-Forsythe), gains/lift, stump split gain,
mutual information, ridge closed form, embedding decontamination, IDW.
Each test replays the math in pure Python/NumPy on the small fixture
or pins an invariant that must hold regardless of data.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

from tb_scale_spatial_data_pipeline_spark.operators.graphs import EDGE_THIN_BELOW
from tb_scale_spatial_data_pipeline_spark.plans import all_queries

SF_SMOKE = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def _edges_py(spark, sf=SF_SMOKE):
    ps = {
        (r["l_partkey"], r["l_suppkey"])
        for r in spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .collect()
    }
    by_part = defaultdict(set)
    for pk, sk in ps:
        by_part[pk].add(sk)
    eu = set()
    for sks in by_part.values():
        sks = sorted(sks)
        for i, u in enumerate(sks):
            for v in sks[i + 1 :]:
                h = hashlib.md5(str(u * 1000 + v).encode()).hexdigest()
                if int(h[:4], 16) < EDGE_THIN_BELOW:
                    eu.add((u, v))
    return eu


def test_square_count_replay(spark):
    """n_squares must equal a brute-force 4-cycle census: for every
    unordered pair, C(common-neighbors, 2), halved (each square is
    counted once per diagonal)."""
    eu = _edges_py(spark, SF_MID)
    adj = defaultdict(set)
    for u, v in eu:
        adj[u].add(v)
        adj[v].add(u)
    nodes = sorted(adj)
    pair_sq = 0
    n_pairs = 0
    n_wedges = 0
    for i, u in enumerate(nodes):
        for w in nodes[i + 1 :]:
            lam = len(adj[u] & adj[w])
            if lam:
                n_pairs += 1
                n_wedges += lam
                pair_sq += lam * (lam - 1) // 2
    r = all_queries()["square_count_c4"](spark, SF_MID).collect()[0]
    assert r["n_diagonal_pairs"] == n_pairs
    assert r["n_wedges"] == n_wedges
    assert pair_sq % 2 == 0  # every square has exactly two diagonals
    assert r["n_squares"] == pair_sq // 2


def test_nation_modularity_identities(spark):
    """Σ degree_sum = 2m, Σ intra_edges <= m, every per-community
    numerator matches 4m·e_c − d_c², and Q = Σ contrib stays in
    Newman's [-1/2, 1) range."""
    rows = all_queries()["nation_modularity"](spark, SF_MID).collect()
    eu = _edges_py(spark, SF_MID)
    m = len(eu)
    assert sum(r["degree_sum"] for r in rows) == 2 * m
    assert sum(r["intra_edges"] for r in rows) <= m
    for r in rows:
        assert r["q_num"] == 4 * m * r["intra_edges"] - r["degree_sum"] ** 2
    q = sum(r["q_num"] for r in rows) / (4 * m * m)
    assert -0.5 <= q < 1.0


def test_mcnemar_replay(spark):
    rows = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    b = c = 0
    for r in rows:
        y = 1 if r["o_orderpriority"] in ("1-URGENT", "2-HIGH") else 0
        a = 1 if r["o_totalprice"] > 150000 else 0
        bb = 1 if (r["o_totalprice"] > 100000 and r["o_orderstatus"] == "F") else 0
        if a == y and bb != y:
            b += 1
        if bb == y and a != y:
            c += 1
    got = all_queries()["mcnemar_paired_models"](spark, SF_SMOKE).collect()[0]
    assert (got["b_only_a_right"], got["c_only_b_right"]) == (b, c)
    if b + c:
        assert got["mcnemar_chi2"] == pytest.approx(
            (b - c) ** 2 / (b + c), abs=1e-6
        )


def test_brown_forsythe_replay(spark):
    """Exact-lattice replay: per-segment doubled medians, z2 = |2y−m2|,
    then the BF statistic with the same round-then-sum seam."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    }
    by_seg = defaultdict(list)
    for o in orders:
        seg = cust.get(o["o_custkey"])
        if seg is not None:
            by_seg[seg].append(int(round(o["o_totalprice"] * 100)))
    stats = []
    for seg, ys in by_seg.items():
        ys.sort()
        n = len(ys)
        m2 = ys[(n + 1) // 2 - 1] + ys[(n + 2) // 2 - 1]
        z2 = [abs(2 * y - m2) for y in ys]
        s, q = sum(z2), sum(z * z for z in z2)
        stats.append((n, s, q))
    k = len(stats)
    N = sum(n for n, _, _ in stats)
    t6 = sum(round(s * s / n, 6) for n, s, _ in stats)
    w6 = sum(round(q - s * s / n, 6) for n, s, q in stats)
    S = sum(float(s) for _, s, _ in stats)
    ssb = t6 - round(S * S / N, 6)
    f = ssb * (N - k) / ((k - 1) * w6)
    got = all_queries()["brown_forsythe_test"](spark, SF_SMOKE).collect()[0]
    assert got["k"] == k and got["n_total"] == N
    assert got["f_brown_forsythe"] == pytest.approx(f, abs=1e-5)
    assert got["f_brown_forsythe"] >= 0


def test_gains_lift_identities(spark):
    rows = all_queries()["cumulative_gains_lift"](spark, SF_MID).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_orders = spark.read.parquet(f"{SF_MID}/orders.parquet").count()
    assert sum(r["n"] for r in rows) == n_orders
    # final decile closes the books: gain 1.0, lift 1.0
    assert rows[-1]["cum_gain"] == pytest.approx(1.0, abs=1e-6)
    assert rows[-1]["cum_lift"] == pytest.approx(1.0, abs=1e-6)
    # gains are a cumulative distribution: nondecreasing
    gains = [r["cum_gain"] for r in rows]
    assert gains == sorted(gains)


def test_stump_gain_nonnegative_and_replay(spark):
    """Gini gain is nonnegative by concavity for every candidate;
    replay the quantity<=20 candidate exactly."""
    rows = all_queries()["stump_split_gain"](spark, SF_SMOKE).collect()
    assert len(rows) == 8
    assert all(r["gini_gain"] >= -1e-12 for r in rows)
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    sides = {"L": [0, 0], "R": [0, 0]}
    for r in li:
        s = "L" if r["l_quantity"] <= 20 else "R"
        sides[s][0] += 1
        sides[s][1] += 1 if r["l_returnflag"] == "R" else 0
    nt = sum(v[0] for v in sides.values())
    post = sum(v[1] for v in sides.values())
    parent = nt - (post**2 + (nt - post) ** 2) / nt
    child = sum(
        n - (p**2 + (n - p) ** 2) / n for n, p in sides.values() if n
    )
    want = round((parent - child) / nt, 6)
    got = {
        (r["feature"], r["threshold"]): r["gini_gain"] for r in rows
    }[("l_quantity", 20.0)]
    assert got == pytest.approx(want, abs=1e-6)


def test_mutual_information_replay(spark):
    """Replay the 'status' feature's MI with the same round-then-sum
    seam; MI must be >= 0 up to the rounding grain."""
    rows = {
        r["feature"]: r
        for r in all_queries()["mutual_information_features"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(rows) == {"status", "priority", "year"}
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    cxy: defaultdict = defaultdict(int)
    for o in orders:
        y = 1 if o["o_totalprice"] > 150000 else 0
        cxy[(o["o_orderstatus"], y)] += 1
    n = sum(cxy.values())
    cx: defaultdict = defaultdict(int)
    cy: defaultdict = defaultdict(int)
    for (x, y), c in cxy.items():
        cx[x] += c
        cy[y] += c
    mi = sum(
        round(c / n * math.log(c * n / (cx[x] * cy[y])), 9)
        for (x, y), c in cxy.items()
    )
    assert rows["status"]["n_cells"] == len(cxy)
    assert rows["status"]["mutual_info"] == pytest.approx(mi, abs=1e-6)
    for r in rows.values():
        assert r["mutual_info"] >= -1e-6


def test_ridge_closed_form_replay(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    a = b = c = p = q = 0
    lam = 1000
    for r in li:
        x1 = int(r["l_quantity"])
        x2 = int(round(r["l_discount"] * 100))
        yv = int(round(r["l_extendedprice"] * 100))
        a += x1 * x1
        b += x1 * x2
        c += x2 * x2
        p += x1 * yv
        q += x2 * yv
    a += lam
    c += lam
    det = a * c - b * b
    got = all_queries()["ridge_closed_form"](spark, SF_SMOKE).collect()[0]
    assert got["n"] == len(li)
    assert got["beta_quantity"] == pytest.approx(
        (c * p - b * q) / det, abs=1e-6
    )
    assert got["beta_discount_cents"] == pytest.approx(
        (a * q - b * p) / det, abs=1e-6
    )


def test_embedding_decontamination_nonvacuous(spark):
    """The screen must separate: some rows flagged, some clean, and the
    per-label max similarity consistent with the flag."""
    rows = all_queries()["embedding_decontamination"](spark, SF_MID).collect()
    assert sum(r["n_contaminated"] for r in rows) > 0
    assert any(r["n_contaminated"] < r["n_corpus"] for r in rows)
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_corpus"]
        if r["n_contaminated"] > 0:
            assert r["max_label_sim"] > 0.3


def test_idw_interpolation_replay(spark):
    """Replay one grid cell exactly (integer weights 1e12//d2) and pin
    the estimate inside the value envelope of its neighborhood."""
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    gx, gy = 3, 2
    num = den = 0
    vals = []
    for r in cust:
        px, py = r["c_custkey"] % 40, r["c_custkey"] % 30
        v = int(round(r["c_acctbal"] * 100))
        d2 = (2 * px - (10 * gx + 5)) ** 2 + (2 * py - (10 * gy + 5)) ** 2
        if d2 <= 800:
            w = 10**12 // d2
            num += v * w
            den += w
            vals.append(v)
    rows = {
        (r["gx"], r["gy"]): r
        for r in all_queries()["idw_interpolation"](spark, SF_SMOKE).collect()
    }
    got = rows[(gx, gy)]
    assert got["n_neighbors"] == len(vals)
    assert got["idw_acctbal"] == pytest.approx(num / den / 100, abs=1e-6)
    assert min(vals) / 100 <= got["idw_acctbal"] <= max(vals) / 100


# ---------------------------------------------------------------------------
# Batch 2: survival, graph club, calibration, privacy, forecasting,
# text mining


def test_logrank_identities(spark):
    """O1 <= total deaths; V > 0; chi2 = (O1-E1)^2/V reproduced from
    the query's own reported moments."""
    r = all_queries()["logrank_test"](spark, SF_MID).collect()[0]
    assert r["var_o1"] > 0
    assert r["logrank_chi2"] == pytest.approx(
        (r["o1"] - r["e1"]) ** 2 / r["var_o1"], rel=1e-3
    )


def test_rich_club_monotone_density(spark):
    """The club shrinks as k rises, and e_club fits inside the clique
    bound n(n-1)/2."""
    rows = all_queries()["rich_club_coefficient"](spark, SF_MID).collect()
    sizes = [r["n_club"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    for r in rows:
        assert r["e_club"] <= r["n_club"] * (r["n_club"] - 1) // 2
        if r["phi"] is not None:
            assert 0.0 <= r["phi"] <= 1.0


def test_brier_murphy_identity(spark):
    """brier = reliability - resolution + uncertainty (Murphy 1973);
    exact because forecast groups are the distinct forecast values."""
    r = all_queries()["brier_decomposition"](spark, SF_MID).collect()[0]
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=1e-4
    )
    assert 0 <= r["brier"] <= 1
    assert r["resolution"] >= 0 and r["reliability"] >= 0


def test_l_diversity_partitions_customers(spark):
    rows = all_queries()["l_diversity_audit"](spark, SF_MID).collect()
    n_cust = spark.read.parquet(f"{SF_MID}/customer.parquet").count()
    assert sum(r["n_rows"] for r in rows) == n_cust
    for r in rows:
        assert r["l"] <= r["min_group_size"] <= r["n_rows"]


def test_forecast_combination_replay(spark):
    """Replay the naive arm exactly on the small fixture and pin the
    scaled-integer combo identity on the report."""
    import duckdb

    con = duckdb.connect()
    daily = con.execute(
        f"""SELECT CAST(o_orderdate AS DATE) d,
                   SUM(CAST(round(o_totalprice*100) AS BIGINT)) y
            FROM read_parquet('{SF_SMOKE}/orders.parquet')
            GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    ys = [int(y) for _, y in daily]
    errs = [abs(ys[i] - ys[i - 1]) for i in range(7, len(ys))]
    want = round(sum(errs) / (100.0 * len(errs)), 6)
    rows = {
        r["forecaster"]: r
        for r in all_queries()["forecast_combination_backtest"](
            spark, SF_SMOKE
        ).collect()
    }
    assert rows["naive"]["n_days"] == len(errs)
    assert rows["naive"]["mae_dollars"] == pytest.approx(want, abs=1e-6)
    assert set(rows) == {
        "naive",
        "seasonal_naive",
        "moving_avg_7",
        "combo_equal_weight",
    }


def test_boilerplate_clusters_are_real(spark):
    rows = all_queries()["boilerplate_prefix_clusters"](
        spark, SF_MID
    ).collect()
    assert rows, "fixture must contain shared prefixes"
    sizes = [r["n_docs"] for r in rows]
    assert all(n > 1 for n in sizes)
    assert sizes == sorted(sizes, reverse=True)


def test_rake_scores_and_phrases(spark):
    """Every reported phrase must be stopword-free, and the score of a
    single-word phrase equals that word's degree/frequency replayed in
    pure Python."""
    from tb_scale_spatial_data_pipeline_spark.plans.text_queries import (
        _RAKE_STOPS,
    )
    import re as _re
    from collections import Counter

    rows = all_queries()["rake_keyword_extraction"](spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        assert not set(r["phrase"].split()) & set(_RAKE_STOPS)
        assert r["rake_score"] > 0
    # full Python replay of word stats
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    freq: Counter = Counter()
    deg: Counter = Counter()
    phrases = []
    for d in docs:
        toks = [w for w in _re.split(r"[^a-z0-9]+", d["text"].lower()) if w]
        run: list = []
        for w in toks + ["the"]:  # sentinel flushes the last run
            if w in _RAKE_STOPS:
                if run:
                    phrases.append(list(run))
                    for x in run:
                        freq[x] += 1
                        deg[x] += len(run)
                    run = []
            else:
                run.append(w)
    score = {
        " ".join(p): sum(round(deg[w] / freq[w], 9) for w in p)
        for p in phrases
    }
    for r in rows:
        assert r["rake_score"] == pytest.approx(
            score[r["phrase"]], abs=1e-5
        )


# ---------------------------------------------------------------------------
# Batch 3: rank correlation, drift distance, agreement, stylometry


def test_spearman_replay(spark):
    """scipy-free replay: average ranks via the doubled-rank lattice,
    then Pearson on ranks."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    xs = [int(r["l_quantity"]) for r in li]
    ys = [int(round(r["l_extendedprice"] * 100)) for r in li]

    def ranks(v):
        from collections import Counter

        cnt = Counter(v)
        cum = 0
        r2 = {}
        for val in sorted(cnt):
            r2[val] = 2 * cum + cnt[val] + 1
            cum += cnt[val]
        return [r2[x] for x in v]

    rx, ry = ranks(xs), ranks(ys)
    n = len(xs)
    nn = n * (n + 1) * (n + 1)
    sxy = sum(a * b for a, b in zip(rx, ry)) - nn
    sxx = sum(a * a for a in rx) - nn
    syy = sum(b * b for b in ry) - nn
    want = sxy / math.sqrt(sxx * syy)
    got = all_queries()["spearman_rank_correlation"](spark, SF_SMOKE).collect()[
        0
    ]
    assert got["n"] == n
    assert got["spearman_rho"] == pytest.approx(want, abs=1e-6)
    # the synthetic fixture draws price independent of quantity, so
    # the only data-free pin is the correlation bound
    assert -1 <= got["spearman_rho"] <= 1


def test_wasserstein_replay_and_bounds(spark):
    """Replay W1 exactly from the dollar-quantized CDFs; W1 must also
    be bounded by the mean absolute difference of the two means."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    from collections import Counter

    c1: Counter = Counter()
    c2: Counter = Counter()
    for o in orders:
        v = int(round(o["o_totalprice"] / 100))
        if o["o_orderdate"].year <= 1997:
            c1[v] += 1
        else:
            c2[v] += 1
    n1, n2 = sum(c1.values()), sum(c2.values())
    vals = sorted(set(c1) | set(c2))
    f1 = f2 = 0
    tot = 0
    for v, nxt in zip(vals, vals[1:]):
        f1 += c1.get(v, 0)
        f2 += c2.get(v, 0)
        tot += abs(f1 * n2 - f2 * n1) * (nxt - v)
    want = round(tot / (n1 * n2) * 100, 6)
    got = all_queries()["wasserstein_price_drift"](spark, SF_SMOKE).collect()[
        0
    ]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["w1_dollars"] == pytest.approx(want, abs=1e-6)
    assert got["w1_dollars"] >= 0


def test_cohens_kappa_identities(spark):
    r = all_queries()["cohens_kappa_models"](spark, SF_MID).collect()[0]
    assert 0 <= r["p_observed"] <= 1 and 0 < r["p_expected"] < 1
    assert r["kappa"] == pytest.approx(
        (r["p_observed"] - r["p_expected"]) / (1 - r["p_expected"]), abs=1e-4
    )
    assert -1 <= r["kappa"] <= 1


def test_burrows_delta_properties(spark):
    """Deltas are nonnegative, pairs are canonical (a < b), and the
    z-score construction means a source compared with itself would be
    0 — pinned indirectly: every reported delta > 0 for distinct
    sources, and all 10 rows are distinct pairs."""
    rows = all_queries()["burrows_delta_sources"](spark, SF_MID).collect()
    assert len(rows) == 10
    seen = set()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert r["delta"] >= 0
        seen.add((r["src_a"], r["src_b"]))
    assert len(seen) == 10
    deltas = [r["delta"] for r in rows]
    assert deltas == sorted(deltas)


# ---------------------------------------------------------------------------
# Batch 4: symbolic time series


def test_sax_words_well_formed(spark):
    rows = all_queries()["sax_motif_census"](spark, SF_MID).collect()
    assert rows
    import re as _re

    for r in rows:
        assert _re.fullmatch(r"[abcd]{3}", r["sax_word"])
        assert r["n_occurrences"] >= 1
    counts = [r["n_occurrences"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    # word count identity: segments = floor(days/7), words = segs - 2
    import duckdb

    con = duckdb.connect()
    n_days = con.execute(
        f"""SELECT COUNT(DISTINCT CAST(o_orderdate AS DATE))
            FROM read_parquet('{SF_MID}/orders.parquet')"""
    ).fetchone()[0]
    n_words_total = n_days // 7 - 2
    assert sum(counts) <= n_words_total  # top-10 covers at most all


def test_pacf_replay(spark):
    """NumPy replay of the exact-lattice covariances + DL recursion."""
    import numpy as np
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{SF_MID}/orders.parquet")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "y"
            )
        )
        .orderBy("d")
        .collect()
    )
    y = np.array([int(r["y"]) for r in daily], dtype=object)
    n, s = len(y), int(sum(y))
    dev = n * y - s
    c0 = int(sum(d * d for d in dev))
    r = [int(sum(dev[:-k] * dev[k:])) / c0 for k in range(1, 5)]
    r1, r2, r3, r4 = r
    p11 = r1
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    p21 = r1 - p22 * r1
    p33 = (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
    p31 = p21 - p33 * p22
    p32 = p22 - p33 * p21
    p44 = (r4 - p31 * r3 - p32 * r2 - p33 * r1) / (
        1 - p31 * r1 - p32 * r2 - p33 * r3
    )
    got = {
        r_["lag"]: r_["pacf"]
        for r_ in all_queries()["pacf_durbin_levinson"](spark, SF_MID).collect()
    }
    for lag, want in zip(range(1, 5), (p11, p22, p33, p44)):
        assert got[lag] == pytest.approx(want, abs=1e-6)
        assert -1 <= got[lag] <= 1


def test_ivm_join_delta_consistent_and_nonvacuous(spark):
    """Every nation must reconcile exactly, and BOTH sides of the split
    must be non-empty (otherwise the identity is vacuously true)."""
    rows = all_queries()["ivm_join_delta"](spark, SF_MID).collect()
    assert rows and all(r["consistent"] for r in rows)
    import duckdb

    con = duckdb.connect()
    pre, post = con.execute(
        f"""SELECT SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                            THEN 1 ELSE 0 END),
                   SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                            THEN 1 ELSE 0 END)
            FROM read_parquet('{SF_MID}/orders.parquet')"""
    ).fetchone()
    assert pre > 0 and post > 0


def test_abandoned_sessions_replay(spark):
    """Brute-force replay of the anti interval join on the small
    fixture: a view is abandoned iff the user has no purchase in
    [ts, ts+1h)."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    purch = defaultdict(list)
    for e in ev:
        if e["event_type"] == "purchase":
            purch[e["user_id"]].append(e["ts"])
    import datetime

    hour = datetime.timedelta(hours=1)
    want = defaultdict(lambda: [0, 0])
    for e in ev:
        if e["event_type"] != "view":
            continue
        ab = not any(
            e["ts"] <= p < e["ts"] + hour for p in purch[e["user_id"]]
        )
        h = e["ts"].hour
        want[h][0] += 1
        want[h][1] += 1 if ab else 0
    rows = all_queries()["abandoned_session_detection"](
        spark, SF_SMOKE
    ).collect()
    got = {r["event_hour"]: (r["n_views"], r["n_abandoned"]) for r in rows}
    assert got == {h: tuple(v) for h, v in want.items()}
    # non-vacuity: both outcomes must occur somewhere
    assert any(v[1] > 0 for v in want.values())
    assert any(v[1] < v[0] for v in want.values())


def test_apriori_triples_satisfy_apriori_property(spark):
    """Every reported triple's support must not exceed any of its
    2-subset supports (replayed in Python), and must meet the 10%
    threshold."""
    rows = all_queries()["apriori_brand_triples"](spark, SF_MID).collect()
    assert rows, "fixture must yield frequent triples"
    import duckdb

    con = duckdb.connect()
    baskets = con.execute(
        f"""SELECT DISTINCT o.o_custkey, p.p_brand
            FROM read_parquet('{SF_MID}/orders.parquet') o
            JOIN read_parquet('{SF_MID}/lineitem.parquet') l
              ON l.l_orderkey = o.o_orderkey
            JOIN read_parquet('{SF_MID}/part.parquet') p
              ON p.p_partkey = l.l_partkey"""
    ).fetchall()
    by_cust = defaultdict(set)
    for cust, brand in baskets:
        by_cust[cust].add(brand)
    s = math.ceil(0.1 * len(by_cust))
    for r in rows:
        items = {r["i1"], r["i2"], r["i3"]}
        sup = sum(1 for v in by_cust.values() if items <= v)
        assert r["support"] == sup
        assert sup >= s
        for a in items:
            pair = items - {a}
            psup = sum(1 for v in by_cust.values() if pair <= v)
            assert psup >= sup  # monotonicity (Apriori property)


def test_percolation_monotone_nesting(spark):
    """Edge survival is a fixed hash, so levels NEST: edges, nodes and
    giant-component size are nondecreasing in retention; component
    count of the 75% level is <= the 25% level's node count."""
    rows = all_queries()["percolation_robustness"](spark, SF_MID).collect()
    assert [r["retention_pct"] for r in rows] == [25.0, 50.0, 75.0]
    for a, b in zip(rows, rows[1:]):
        assert a["n_edges"] <= b["n_edges"]
        assert a["n_nodes"] <= b["n_nodes"]
        assert a["giant_size"] <= b["giant_size"]
    for r in rows:
        assert r["giant_size"] <= r["n_nodes"]
        assert r["n_components"] >= 1


def test_eigenvector_centrality_properties(spark):
    """Scores are L-inf normalized (max = 1 after the final divide)
    and positive on a connected graph; top node degree-dominant."""
    rows = all_queries()["eigenvector_centrality"](spark, SF_MID).collect()
    assert len(rows) == 10
    scores = [r["eig_score"] for r in rows]
    assert scores[0] == pytest.approx(1.0, abs=1e-6)
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_zone_map_report_replay(spark):
    """Replay one threshold against per-day maxima; fractions must be
    monotone in the threshold."""
    import duckdb

    con = duckdb.connect()
    zones = con.execute(
        f"""SELECT CAST(o_orderdate AS DATE), COUNT(*),
                   MAX(CAST(round(o_totalprice*100) AS BIGINT))
            FROM read_parquet('{SF_MID}/orders.parquet') GROUP BY 1"""
    ).fetchall()
    thr = 300_000
    pruned = sum(1 for _, _, mx in zones if mx <= thr * 100)
    skipped = sum(n for _, n, mx in zones if mx <= thr * 100)
    rows = {
        r["price_threshold"]: r
        for r in all_queries()["zone_map_prune_report"](
            spark, SF_MID
        ).collect()
    }
    assert rows[thr]["n_groups"] == len(zones)
    assert rows[thr]["n_pruned_groups"] == pruned
    assert rows[thr]["n_skipped_rows"] == skipped
    fr = [rows[p]["skip_fraction"] for p in sorted(rows)]
    assert fr == sorted(fr)


def test_cvm_replay_and_family_consistency(spark):
    """Replay CvM exactly from the quantized CDFs; T must be
    nonnegative and zero iff the CDFs coincide."""
    from collections import Counter

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    c1: Counter = Counter()
    c2: Counter = Counter()
    for o in orders:
        v = int(round(o["o_totalprice"] / 100))
        (c1 if o["o_orderdate"].year <= 1997 else c2)[v] += 1
    n1, n2 = sum(c1.values()), sum(c2.values())
    f1 = f2 = 0
    num = 0
    for v in sorted(set(c1) | set(c2)):
        f1 += c1.get(v, 0)
        f2 += c2.get(v, 0)
        num += (f1 * n2 - f2 * n1) ** 2 * (c1.get(v, 0) + c2.get(v, 0))
    want = round(num / (n1 * n1 * n2 * n2 * (n1 + n2)), 6)
    got = all_queries()["cramer_von_mises_drift"](spark, SF_SMOKE).collect()[0]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["cvm_t"] == pytest.approx(want, abs=1e-6)
    assert got["cvm_t"] >= 0


def test_conformal_coverage_near_target(spark):
    """Split-conformal guarantees coverage >= 0.9 in expectation; on
    an exchangeable split the realized coverage should land near the
    target (loose band) and the threshold must be a real calibration
    order statistic."""
    r = all_queries()["conformal_coverage_audit"](spark, SF_MID).collect()[0]
    assert r["n_cal"] > 0 and r["n_test"] > 0
    assert r["q_s2"] >= 0
    assert 0.85 <= r["coverage"] <= 0.96


def test_edge_betweenness_consistency_with_nodes(spark):
    """Girvan-Newman identity: for any node v (not a seed endpoint
    special case), the node's betweenness equals the sum of credits on
    its DOWNWARD tree edges minus ... — too entangled to pin exactly
    here; instead pin (a) every reported edge is a real graph edge,
    (b) scores positive and sorted, (c) the per-edge total of ALL
    credits ~ per-seed path mass: sum of all edge credits at level 0
    equals the number of reachable level-1 frontiers weighted by
    (1 + delta) — verified against a pure-Python Brandes edge replay."""
    eu = _edges_py(spark, SF_MID)
    adj = defaultdict(set)
    for u, v in eu:
        adj[u].add(v)
        adj[v].add(u)
    seeds = sorted(adj)[:8]
    K = 4
    from collections import Counter

    edge_pico: Counter = Counter()
    for s in seeds:
        dist = {s: 0}
        sigma = {s: 1}
        levels = defaultdict(list)
        levels[0] = [s]
        for d in range(K):
            for v in levels[d]:
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = d + 1
                    if dist[w] == d + 1:
                        sigma[w] = sigma.get(w, 0) + sigma[v]
            levels[d + 1] = sorted(
                {w for v in levels[d] for w in adj[v] if dist[w] == d + 1}
            )
        delta = defaultdict(float)
        for d in range(K - 1, 0, -1):
            nd = {}
            for v in levels[d]:
                tot = 0.0
                succ = [w for w in adj[v] if dist.get(w) == d + 1]
                for w in succ:
                    tot += sigma[v] / sigma[w] * (1.0 + delta[w])
                if succ:
                    nd[v] = round(tot, 12)
            for v, x in nd.items():
                delta[v] = x
        for d in range(0, K):
            for v in levels[d]:
                for w in adj[v]:
                    if dist.get(w) == d + 1:
                        c = round(
                            sigma[v] / sigma[w] * (1.0 + delta[w]), 12
                        )
                        edge_pico[(min(v, w), max(v, w))] += int(
                            round(c * 1e12)
                        )
    want = sorted(
        (
            (round(p / 1e12, 6), u, v)
            for (u, v), p in edge_pico.items()
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:10]
    rows = all_queries()["edge_betweenness_topk"](spark, SF_MID).collect()
    got = [(r["edge_betweenness"], r["u"], r["v"]) for r in rows]
    assert [
        (pytest.approx(w[0], abs=1e-6), w[1], w[2]) for w in want
    ] == got


def test_lof_replay(spark):
    """Full scipy-free LOF replay on the small fixture with the same
    blocked candidate set, rounding ladder and tie rules."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    pts = {
        o["o_orderkey"]: (o["o_orderkey"] % 251, o["o_orderkey"] % 241)
        for o in orders
    }
    K, CS = 4, 8
    from collections import defaultdict as dd

    cells = dd(list)
    for i, (x, y) in pts.items():
        cells[(x // CS, y // CS)].append(i)
    knn = {}
    for i, (x, y) in pts.items():
        cand = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in cells.get((x // CS + dx, y // CS + dy), []):
                    if j != i:
                        qx, qy = pts[j]
                        cand.append(
                            ((x - qx) ** 2 + (y - qy) ** 2, j)
                        )
        cand.sort()
        knn[i] = cand[:K]
    kd = {i: max(d for d, _ in nn) for i, nn in knn.items() if nn}
    lrd9 = {}
    for i, nn in knn.items():
        if len(nn) != K:
            continue
        s = sum(round(math.sqrt(max(d, kd[j])), 9) for d, j in nn)
        lrd9[i] = round(K / s, 9) if s > 0 else None
    want = {}
    for i, nn in knn.items():
        if i not in lrd9 or any(j not in lrd9 for _, j in nn):
            continue
        want[i] = round(sum(lrd9[j] for _, j in nn) / (K * lrd9[i]), 6)
    top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:10]
    rows = all_queries()["lof_outlier_scores"](spark, SF_SMOKE).collect()
    got = [(r["o_orderkey"], r["lof"]) for r in rows]
    assert [(i, pytest.approx(v, abs=1e-6)) for i, v in top] == got
    # density-ratio semantics: scores near 1 are inliers; the reported
    # top-10 must be the HIGH tail
    assert all(v >= 1.0 for _, v in got) or any(v > 1.0 for _, v in got)


def test_oov_curve_monotone_and_replay(spark):
    """OOV rate is nonincreasing in vocab size; replay N=100 exactly
    with the same (count DESC, word) rank order."""
    from collections import Counter
    import re as _re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    train: Counter = Counter()
    held: Counter = Counter()
    for d in docs:
        toks = [w for w in _re.split(r"[^a-z0-9]+", d["text"].lower()) if w]
        (train if d["doc_id"] % 2 == 0 else held).update(toks)
    vocab100 = {
        w
        for w, _ in sorted(train.items(), key=lambda kv: (-kv[1], kv[0]))[
            :100
        ]
    }
    n_tokens = sum(held.values())
    n_oov = sum(c for w, c in held.items() if w not in vocab100)
    rows = {
        r["vocab_size"]: r
        for r in all_queries()["oov_rate_by_vocab_size"](
            spark, SF_SMOKE
        ).collect()
    }
    assert rows[100]["n_tokens"] == n_tokens
    assert rows[100]["n_oov"] == n_oov
    rates = [rows[n]["oov_rate"] for n in sorted(rows)]
    assert rates == sorted(rates, reverse=True)


def test_incidence_rate_ratio_replay(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    agg = defaultdict(lambda: [None, None, 0])  # min, max, events
    for e in ev:
        a = agg[e["user_id"]]
        a[0] = e["ts"] if a[0] is None or e["ts"] < a[0] else a[0]
        a[1] = e["ts"] if a[1] is None or e["ts"] > a[1] else a[1]
        a[2] += 1 if e["event_type"] == "purchase" else 0
    stats = {0: [0, 0], 1: [0, 0]}
    import calendar

    def _floor_s(ts):
        return calendar.timegm(ts.timetuple())

    for uid, (lo, hi, n) in agg.items():
        # both engines difference SECOND-FLOORED timestamps
        # (unix_timestamp / date_diff('second')), not the floored
        # difference — they disagree when micro(lo) > micro(hi)
        expo = _floor_s(hi) - _floor_s(lo)
        if expo > 0:
            stats[uid % 2][0] += n
            stats[uid % 2][1] += expo
    r = all_queries()["incidence_rate_ratio"](spark, SF_SMOKE).collect()[0]
    assert (r["events_1"], r["exposure_1"]) == tuple(stats[1])
    assert (r["events_0"], r["exposure_0"]) == tuple(stats[0])
    want = stats[1][0] * stats[0][1] / (stats[0][0] * stats[1][1])
    assert r["rate_ratio"] == pytest.approx(want, abs=1e-6)


def test_simpsons_audit_identities(spark):
    rows = all_queries()["simpsons_paradox_audit"](spark, SF_MID).collect()
    assert len(rows) == 5
    pooled = {r["pooled_rate_diff"] for r in rows}
    assert len(pooled) == 1  # same pooled value on every row
    for r in rows:
        assert r["verdict"] in ("reversal", "consistent")
        if r["seg_rate_diff"] * r["pooled_rate_diff"] < 0:
            assert r["verdict"] == "reversal"


def test_att_strata_replay(spark):
    """Replay the stratified ATT with the same round-then-sum seam;
    supported + off-support strata partition the census."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    }
    cells = defaultdict(lambda: [0, 0, 0, 0])  # n1, y1, n0, y0
    for o in orders:
        seg = cust.get(o["o_custkey"])
        if seg is None:
            continue
        k = (seg, o["o_orderdate"].year)
        tr = 1 if o["o_orderstatus"] == "F" else 0
        y = 1 if o["o_orderpriority"] in ("1-URGENT", "2-HIGH") else 0
        c = cells[k]
        if tr:
            c[0] += 1
            c[1] += y
        else:
            c[2] += 1
            c[3] += y
    sup = {k: c for k, c in cells.items() if c[0] > 0 and c[2] > 0}
    num = sum(
        round(c[0] * (c[1] / c[0] - c[3] / c[2]), 9) for c in sup.values()
    )
    n1 = sum(c[0] for c in sup.values())
    r = all_queries()["att_propensity_strata"](spark, SF_SMOKE).collect()[0]
    assert r["n_strata"] == len(sup)
    assert r["n_off_support"] == len(cells) - len(sup)
    assert r["n_treated"] == n1
    assert r["att"] == pytest.approx(num / n1, abs=1e-6)


def test_weighted_pagerank_differs_from_unweighted(spark):
    """Weights must matter: the weighted ranking differs from the
    plain pagerank ranking somewhere in the top-10, and ranks stay a
    probability-like positive vector."""
    rows = all_queries()["weighted_pagerank"](spark, SF_MID).collect()
    assert len(rows) == 10
    assert all(r["wpr"] > 0 for r in rows)
    wprs = [r["wpr"] for r in rows]
    assert wprs == sorted(wprs, reverse=True)
    plain = all_queries()["pagerank_suppliers"](spark, SF_MID).collect()
    plain_nodes = [r[0] for r in plain][:10]
    w_nodes = [r["s_suppkey"] for r in rows]
    assert w_nodes != plain_nodes or [r["wpr"] for r in rows] != [
        r[1] for r in plain
    ][:10]


def test_markov_entropy_rate_replay(spark):
    """H = -sum p(i,j) ln p(j|i) replayed from exact bigram counts;
    bounded by ln(#states)."""
    ev = sorted(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect(),
        key=lambda e: (e["user_id"], e["ts"], e["event_id"]),
    )
    from collections import Counter

    bi: Counter = Counter()
    for a, b in zip(ev, ev[1:]):
        if a["user_id"] == b["user_id"]:
            bi[(a["event_type"], b["event_type"])] += 1
    row_tot: Counter = Counter()
    for (a, _), n in bi.items():
        row_tot[a] += n
    nt = sum(bi.values())
    h = sum(
        round(-n * math.log(n / row_tot[a]), 9) for (a, _), n in bi.items()
    ) / nt
    r = all_queries()["markov_entropy_rate"](spark, SF_SMOKE).collect()[0]
    assert r["n_transitions"] == nt
    assert r["n_cells"] == len(bi)
    assert r["entropy_rate_nats"] == pytest.approx(h, abs=1e-6)
    n_states = len({e["event_type"] for e in ev})
    assert 0 <= r["entropy_rate_nats"] <= math.log(n_states) + 1e-9


def test_ljung_box_replay(spark):
    """Exact-integer covariance replay; Q >= 0."""
    import duckdb

    con = duckdb.connect()
    ys = [
        int(y)
        for (y,) in con.execute(
            f"""SELECT SUM(CAST(round(o_totalprice*100) AS BIGINT))
                FROM read_parquet('{SF_SMOKE}/orders.parquet')
                GROUP BY CAST(o_orderdate AS DATE)
                ORDER BY CAST(o_orderdate AS DATE)"""
        ).fetchall()
    ]
    n, s = len(ys), sum(ys)
    dev = [n * y - s for y in ys]
    c0 = sum(d * d for d in dev)
    tot = 0.0
    for k in range(1, 5):
        ck = sum(a * b for a, b in zip(dev[:-k], dev[k:]))
        tot += round((ck / c0) ** 2 / (n - k), 12)
    want = round(n * (n + 2.0) * tot, 6)
    r = all_queries()["ljung_box_test"](spark, SF_SMOKE).collect()[0]
    assert r["n_days"] == n
    assert r["ljung_box_q"] == pytest.approx(want, abs=1e-6)
    assert r["ljung_box_q"] >= 0
