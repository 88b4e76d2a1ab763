"""Independent-implementation replays + invariants for the round-9
query additions. The DuckDB oracles already pin cross-engine hash
equality; these tests pin the MATH against driver-side Python/numpy
reimplementations and each operator's structural guarantees
(grouping-margin consistency, peeling monotonicity, dependency
normalization, TTL re-admission).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_SMOKE

from tb_scale_spatial_data_pipeline_spark.operators.graphs import EDGE_THIN_BELOW
from tb_scale_spatial_data_pipeline_spark.plans import all_queries


# ---------------------------------------------------------------------------
# OLAP grouping family


def test_rollup_margins_consistent(spark):
    """Every ROLLUP margin must equal the sum of its leaf groups —
    the internal-consistency property of the single-pass Expand plan."""
    rows = all_queries()["rollup_revenue_margins"](spark, SF_SMOKE).collect()
    leaf = {(r["rf"], r["ls"]): r for r in rows if r["gid"] == 0}
    mid = {r["rf"]: r for r in rows if r["gid"] == 1}
    total = [r for r in rows if r["gid"] == 3]
    assert len(total) == 1
    for rf, m in mid.items():
        sub = [v for (lrf, _), v in leaf.items() if lrf == rf]
        assert m["n"] == sum(v["n"] for v in sub)
        assert abs(m["revenue"] - sum(v["revenue"] for v in sub)) < 1e-6
    assert total[0]["n"] == sum(v["n"] for v in leaf.values())


def test_cube_has_all_margin_classes(spark):
    got = {r["gid"] for r in all_queries()["cube_priority_status"](
        spark, SF_SMOKE
    ).collect()}
    assert got == {0, 1, 2, 3}


def test_bom_explosion_replay(spark):
    """Pure-Python replay of the partkey-arithmetic BOM tree."""
    part_max = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .agg({"p_partkey": "max"})
        .collect()[0][0]
    )
    agg: dict = defaultdict(lambda: [0, 0, 0])  # (root,depth) -> n,sum,max
    for root in (1, 2, 3, 4):
        frontier = [(root, 1)]
        depth = 0
        while frontier:
            depth += 1
            nxt = []
            for node, qty in frontier:
                for ch in (2 * node, 2 * node + 1):
                    if ch <= part_max:
                        q = qty * (ch % 5 + 1)
                        nxt.append((ch, q))
                        a = agg[(root, depth)]
                        a[0] += 1
                        a[1] += q
                        a[2] = max(a[2], q)
            frontier = nxt
    rows = all_queries()["recursive_bom_explosion"](spark, SF_SMOKE).collect()
    got = {(r["root"], r["depth"]): (r["n_components"], r["total_qty"],
                                     r["max_path_qty"]) for r in rows}
    assert got == {k: tuple(v) for k, v in agg.items()}


# ---------------------------------------------------------------------------
# Graph family


def _edges_py(spark):
    import hashlib

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .collect()
    )
    by_part = defaultdict(list)
    for r in li:
        by_part[r["l_partkey"]].append(r["l_suppkey"])
    eu = set()
    for sups in by_part.values():
        ss = sorted(set(sups))
        for i, u in enumerate(ss):
            for v in ss[i + 1:]:
                h = hashlib.md5(str(u * 1000 + v).encode()).hexdigest()
                if int(h[:4], 16) < EDGE_THIN_BELOW:
                    eu.add((u, v))
    return eu


def test_betweenness_brandes_replay(spark):
    """Truncated-radius Brandes in pure Python (per-level rounding
    mirrored) equals the distributed result."""
    eu = _edges_py(spark)
    adj = defaultdict(set)
    for u, v in eu:
        adj[u].add(v)
        adj[v].add(u)
    nodes = sorted(adj)
    seeds = nodes[:8]
    K = 4
    bc_pico: Counter = Counter()
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
                for w in adj[v]:
                    if dist.get(w) == d + 1:
                        tot += sigma[v] / sigma[w] * (1.0 + delta[w])
                if any(dist.get(w) == d + 1 for w in adj[v]):
                    nd[v] = round(tot, 12)
            for v, x in nd.items():
                delta[v] = x
                bc_pico[v] += int(round(x * 1e12))
    want = {
        n: round(p / 1e12, 6) for n, p in bc_pico.items() if p > 0
    }
    rows = all_queries()["betweenness_sampled"](spark, SF_SMOKE).collect()
    got = {r["s_suppkey"]: r["k_betweenness"] for r in rows}
    assert got == pytest.approx(want, abs=1e-6)


def test_betweenness_radius_covers_seed_eccentricity(spark):
    """_BC_MAX_HOPS must be >= every seed's eccentricity on the fixture
    graph (same convention as sssp_weighted's round-cap-above-diameter
    assertion): when it is, the truncated-radius loop IS the exact
    sampled Brandes from those seeds — no path is cut off. Measured
    r10: max seed ecc = 4 (sf0.001), 3 (sf0.01), 2 (sf0.1) vs cap 4.
    At production scale the radius is the deliberate k-betweenness
    knob; at fixture scale it must not silently truncate."""
    from collections import deque

    from tb_scale_spatial_data_pipeline_spark.plans.graph_queries import (
        _BC_MAX_HOPS,
        _BC_SEEDS,
    )

    eu = _edges_py(spark)
    adj = defaultdict(set)
    for u, v in eu:
        adj[u].add(v)
        adj[v].add(u)
    seeds = sorted(adj)[:_BC_SEEDS]
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
        assert max(dist.values()) <= _BC_MAX_HOPS, (s, max(dist.values()))


def test_ktruss_monotone_and_replay(spark):
    """Peeling never adds edges, and a pure-Python replay agrees."""
    eu = _edges_py(spark)
    cur = set(eu)
    traj = [(0, len(cur), 0)]
    for r in range(3):
        adj = defaultdict(set)
        for u, v in cur:
            adj[u].add(v)
            adj[v].add(u)
        sup = {
            (u, v): len(adj[u] & adj[v])
            for (u, v) in cur
        }
        keep = {e for e, s in sup.items() if s >= 2}
        traj.append((r + 1, len(keep), sum(sup[e] for e in keep)))
        cur = keep
    rows = all_queries()["ktruss_peeling"](spark, SF_SMOKE).collect()
    got = [(r["round"], r["n_edges"], r["support_checksum"]) for r in rows]
    assert got == traj
    ns = [n for _, n, _ in got]
    assert all(a >= b for a, b in zip(ns, ns[1:]))


def test_community_lp_round0_is_identity(spark):
    rows = all_queries()["community_label_propagation"](
        spark, SF_SMOKE
    ).collect()
    eu = _edges_py(spark)
    nodes = {x for e in eu for x in e}
    r0 = [r for r in rows if r["round"] == 0][0]
    assert r0["n_comms"] == len(nodes)
    assert r0["label_checksum"] == sum(nodes)
    # label mass never exceeds the identity assignment (labels only
    # ever move to the mode of neighbors, whose min-tie is <= max id)
    for r in rows:
        assert r["n_comms"] <= len(nodes)


# ---------------------------------------------------------------------------
# Raster family


def _field(x, y):
    base = (
        math.sin(x / 10.0) * 40.0 + math.cos(y / 12.0) * 40.0 + 100.0
    )
    if (x - 35.0) ** 2 + (y - 30.0) ** 2 < 400.0:
        base += 80.0
    return base


def test_slope_aspect_numpy_replay(spark):
    """Horn slope/aspect against a straight numpy reimplementation on
    the full 64x64 field with edge clamping."""
    z = np.array(
        [[_field(float(x), float(y)) for x in range(64)] for y in range(64)]
    )
    zp = np.pad(z, 1, mode="edge")
    a, b, c = zp[:-2, :-2], zp[:-2, 1:-1], zp[:-2, 2:]
    d, f = zp[1:-1, :-2], zp[1:-1, 2:]
    g, h, i = zp[2:, :-2], zp[2:, 1:-1], zp[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / 8.0
    dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / 8.0
    slope = np.degrees(np.arctan(np.sqrt(dzdx**2 + dzdy**2)))
    rows = all_queries()["raster_slope_aspect"](spark, SF_SMOKE).collect()
    assert len(rows) == 64 * 64
    for r in rows[::97]:
        assert r["slope_deg"] == pytest.approx(
            slope[r["y"], r["x"]], abs=1e-5
        )
        assert 0.0 <= r["hillshade"] <= 255.0
        assert r["aspect_deg"] == -1.0 or 0.0 <= r["aspect_deg"] <= 360.0


def test_tile_pyramid_levels(spark):
    """Level k has 4x fewer cells; the checksum is level-invariant
    (sums of sums) and the global mean identical at every level."""
    rows = all_queries()["raster_tile_pyramid"](spark, SF_SMOKE).collect()
    assert [r["level"] for r in rows] == [0, 1, 2, 3]
    assert [r["n_cells"] for r in rows] == [4096, 1024, 256, 64]
    assert len({r["micro_checksum"] for r in rows}) == 1
    assert len({r["global_mean"] for r in rows}) == 1
    mins = [r["min_cell_mean"] for r in rows]
    maxs = [r["max_cell_mean"] for r in rows]
    # aggregation contracts the extremes monotonically
    assert all(a <= b for a, b in zip(mins, mins[1:]))
    assert all(a >= b for a, b in zip(maxs, maxs[1:]))


def test_viewshed_replay(spark):
    """Line-of-sight replay: O(n^2) loop per row equals the window
    formulation."""
    rows = all_queries()["raster_viewshed_scanline"](spark, SF_SMOKE).collect()
    got = {r["y"]: (r["n_visible"], r["furthest_visible"]) for r in rows}
    for y in range(0, 64, 7):
        zmu = [int(round(round(_field(float(x), float(y)), 6) * 1e6))
               for x in range(64)]
        best = -math.inf
        n_vis, far = 0, None
        for x in range(1, 64):
            ang = (zmu[x] - zmu[0]) / x
            if ang > best:
                n_vis += 1
                far = x
            best = max(best, ang)
        assert got[y] == (n_vis, far)


# ---------------------------------------------------------------------------
# Streaming / temporal


def test_ttl_dedup_readmits_after_gap(spark):
    """Batch-twin law on the real fixture: a key's events admit iff
    the gap from the PREVIOUS same-key event exceeds the TTL — i.e.
    quiet keys re-admit (the expiry semantics)."""
    import pandas as pd

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", "event_type", "ts", "event_id"
    ).toPandas()
    ev = ev.sort_values(["user_id", "event_type", "ts", "event_id"])
    ttl = pd.Timedelta(minutes=30)
    want: Counter = Counter()
    want_ck: Counter = Counter()
    for (u, et), g in ev.groupby(["user_id", "event_type"]):
        prev = None
        for row in g.itertuples():
            if prev is None or row.ts - prev > ttl:
                want[(u, et)] += 1
                want_ck[(u, et)] += row.event_id
            prev = row.ts
    rows = all_queries()["stream_ttl_dedup"](spark, SF_SMOKE).collect()
    got = {(r["user_id"], r["event_type"]): (r["n_admitted"], r["id_checksum"])
           for r in rows}
    assert got == {k: (want[k], want_ck[k]) for k in want}


def test_holt_tracks_linear_trend(spark):
    """On the fixture, forecast = level + trend exactly (lattice
    arithmetic), and level always lies within the value envelope
    scaled by the window: sanity + replay of the first user."""
    rows = all_queries()["holt_double_smoothing"](spark, SF_SMOKE).collect()
    for r in rows[::37]:
        assert r["forecast"] == pytest.approx(
            r["level"] + r["trend"], abs=5e-7
        )
    # independent pandas replay for one user
    import pandas as pd

    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .where("event_type = 'purchase'")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
    )
    uid = rows[0]["user_id"]
    g = ev[ev.user_id == uid].sort_values(["ts", "event_id"]).reset_index()
    want = {}
    vals = list(g["value"])
    for n in range(1, len(vals) + 1):
        lo = max(0, n - 20)
        ws = [1.25 ** (k + 1) for k in range(lo, n)]
        s1 = [
            round(
                sum(v * 1.25 ** (k + 1)
                    for k, v in list(enumerate(vals))[max(0, j - 19): j + 1])
                / sum(1.25 ** (k + 1)
                      for k in range(max(0, j - 19), j + 1)),
                6,
            )
            for j in range(n)
        ]
        s2 = round(
            sum(s * 1.25 ** (k + 1)
                for k, s in list(enumerate(s1))[lo:n])
            / sum(ws),
            6,
        )
        u1 = int(round(s1[-1] * 1e6))
        u2 = int(round(s2 * 1e6))
        want[g.loc[n - 1, "event_id"]] = (
            (2 * u1 - u2) / 1e6,
            (u1 - u2) / 4e6,
        )
    got = {
        r["event_id"]: (r["level"], r["trend"])
        for r in rows
        if r["user_id"] == uid
    }
    assert got == pytest.approx(want, abs=1e-9)


# ---------------------------------------------------------------------------
# Vector / sketch / text


def test_davies_bouldin_numpy_replay(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    X = {}
    for r in emb:
        X.setdefault(r["label"], []).append(
            np.round(np.array(r["embedding"], dtype=np.float64) * 1e6)
        )
    labels = sorted(X)
    cent = {l: np.mean(X[l], axis=0) for l in labels}
    s = {
        l: math.sqrt(
            float(np.mean([np.sum((x - cent[l]) ** 2) for x in X[l]]))
        )
        / 1e6
        for l in labels
    }
    r_max = {}
    for i in labels:
        best = -1.0
        for j in labels:
            if i == j:
                continue
            m = math.sqrt(float(np.sum((cent[i] - cent[j]) ** 2))) / 1e6
            best = max(best, (s[i] + s[j]) / m)
        r_max[i] = best
    db = np.mean([r_max[i] for i in labels])
    rows = all_queries()["davies_bouldin_index"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["scatter"] == pytest.approx(s[r["label"]], abs=1e-4)
        assert r["r_max"] == pytest.approx(r_max[r["label"]], abs=1e-3)
        assert r["db_index"] == pytest.approx(db, abs=1e-3)


def test_residual_quantization_improves(spark):
    """Level-2 residual codebooks can only reduce (or keep) the MSE:
    each subgroup centroid minimizes its own squared error."""
    rows = all_queries()["residual_quantization_report"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert r["mse_level2"] <= r["mse_level1"] + 1e-9
        assert r["mse_level1"] >= 0.0


def test_theta_intersection_bounds(spark):
    r = all_queries()["theta_sketch_intersection"](spark, SF_SMOKE).collect()[0]
    assert 0 < r["theta"] <= 1.0
    assert r["n_common"] <= r["k"]
    # the sketch estimate should be within a loose factor of truth on
    # the fixture (k=64 -> RSE ~ 1/sqrt(64) ~ 12.5%; allow 4 sigma)
    if r["true_intersection"] > 0:
        assert r["est_intersection"] == pytest.approx(
            r["true_intersection"], rel=0.5
        )


def test_sparse_cosine_bounds_and_symmetric_terms(spark):
    rows = all_queries()["sparse_cosine_pairs"](spark, SF_SMOKE).collect()
    assert len(rows) == 20
    sims = [r["cos_sim"] for r in rows]
    assert all(0.0 <= x <= 1.0 + 1e-9 for x in sims)
    assert sims == sorted(sims, reverse=True)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_dedup_token_retention_mass_conservation(spark):
    rows = all_queries()["dedup_token_retention"](spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_docs = docs.count()
    assert sum(r["docs_before"] for r in rows) == n_docs
    for r in rows:
        assert 0 < r["docs_kept"] <= r["docs_before"]
        assert 0.0 < r["token_retention"] <= 1.0
        assert r["tokens_kept"] <= r["tokens_before"]


def test_percent_rank_tie_audit_invariants(spark):
    rows = all_queries()["percent_rank_tie_audit"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["n_prices"] <= r["n_parts"]
        assert r["n_tie_groups"] <= r["n_prices"]
        if r["max_tie"] == 1:
            assert r["n_tie_groups"] == 0 and r["avg_tied_pr"] is None


def test_hilbert_unit_step_property(spark):
    """The defining Hilbert property: EVERY consecutive step is a
    unit Manhattan step; Z-order must show its quadrant seams."""
    rows = all_queries()["hilbert_locality_audit"](spark, SF_SMOKE).collect()
    by = {r["curve"]: r for r in rows}
    h, z = by["hilbert"], by["zorder"]
    assert h["n_steps"] == 255 and h["unit_steps"] == 255
    assert h["max_jump"] == 1 and h["avg_jump"] == 1.0
    assert z["unit_steps"] < z["n_steps"]
    assert z["max_jump"] > 1 and z["avg_jump"] > 1.0


def test_nelson_aalen_replay(spark):
    """Pure-pandas replay of spells -> cumulative hazard."""
    import pandas as pd

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    spells = []
    for u, g in ev.groupby("user_id"):
        # both engines count SECOND BOUNDARIES (floor each timestamp,
        # then subtract) — not the truncated exact difference
        t0 = g["ts"].min().floor("s")
        purch = g[g.event_type == "purchase"]["ts"]
        if len(purch):
            spells.append(
                (int((purch.min().floor("s") - t0).total_seconds()), True)
            )
        else:
            spells.append(
                (int((g["ts"].max().floor("s") - t0).total_seconds()), False)
            )
    times = sorted({t for t, _ in spells})
    want = {}
    H = 0.0
    for t in times:
        d = sum(1 for s, obs in spells if s == t and obs)
        n_risk = sum(1 for s, _ in spells if s >= t)
        if d > 0:
            H += d / n_risk
            want[t] = (n_risk, d, round(H, 6))
    rows = all_queries()["nelson_aalen_hazard"](spark, SF_SMOKE).collect()
    got = {r["t_sec"]: (r["n_risk"], r["n_events"], r["cum_hazard"])
           for r in rows}
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-6), k
    # hazard is nondecreasing; FH survival nonincreasing in t
    ordered = sorted(rows, key=lambda r: r["t_sec"])
    hz = [r["cum_hazard"] for r in ordered]
    fh = [r["fh_survival"] for r in ordered]
    assert hz == sorted(hz)
    assert fh == sorted(fh, reverse=True)


def test_rbo_replay_and_bounds(spark):
    """RBO replay: recompute both rankings + the truncated RBO sum in
    numpy from the raw embeddings."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    qv = None
    X = {}
    for r in emb:
        v = np.array(r["embedding"], dtype=np.float64)
        if r["vec_id"] == 0:
            qv = v
        else:
            X[r["vec_id"]] = v
    cos = {
        i: round(float(v @ qv) / (np.linalg.norm(v) * np.linalg.norm(qv)
                                  + 1e-12), 6)
        for i, v in X.items()
    }
    mu = lambda v: np.round(v * 1e6)  # noqa: E731
    d2 = {i: int(np.sum((mu(v) - mu(qv)) ** 2)) for i, v in X.items()}
    k, p = 20, 0.9
    ra = {i: r + 1 for r, (i, _) in enumerate(
        sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:k])}
    rb = {i: r + 1 for r, (i, _) in enumerate(
        sorted(d2.items(), key=lambda kv: (kv[1], kv[0]))[:k])}
    common = set(ra) & set(rb)
    mx = {i: max(ra[i], rb[i]) for i in common}
    rbo = (1 - p) * sum(
        p ** (d - 1) * sum(1 for i in common if mx[i] <= d) / d
        for d in range(1, k + 1)
    )
    r = all_queries()["ann_rbo_overlap"](spark, SF_SMOKE).collect()[0]
    assert r["k"] == k
    assert r["n_common"] == len(common)
    assert r["rbo_min"] == pytest.approx(rbo, abs=1e-6)
    assert 0.0 <= r["rbo_min"] <= 1.0


def test_sparse_cosine_replay_top_pair(spark):
    """Replay the full sparse TF-IDF similarity in Python and check
    the top-20 list matches."""
    rows_q = all_queries()["sparse_cosine_pairs"](spark, SF_SMOKE).collect()
    import re as _re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    tf: dict = {}
    for r in docs:
        ws = [w for w in _re.sub(r"\s+", " ", r["text"].lower()).strip()
              .split(" ") if w]
        c: Counter = Counter(
            f"{a}_{b}" for a, b in zip(ws, ws[1:])
        )
        tf[r["doc_id"]] = c
    dfc: Counter = Counter()
    for c in tf.values():
        dfc.update(c.keys())
    n_docs = len(docs)
    keep = {t for t, d in dfc.items() if d <= 25}
    w_mu = {
        d: {
            t: c * int(round(math.log(n_docs / dfc[t]) * 1e6))
            for t, c in cs.items()
            if t in keep
        }
        for d, cs in tf.items()
    }
    n2 = {d: sum(w * w for w in ws.values()) for d, ws in w_mu.items()}
    sims = {}
    ids = sorted(w_mu)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = set(w_mu[a]) & set(w_mu[b])
            if not shared:
                continue
            dot = sum(w_mu[a][t] * w_mu[b][t] for t in shared)
            sims[(a, b)] = round(
                dot / (math.sqrt(n2[a]) * math.sqrt(n2[b])), 6
            )
    want = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [((r["doc_a"], r["doc_b"]), r["cos_sim"]) for r in rows_q]
    assert got == [(k, pytest.approx(v, abs=1e-6)) for k, v in want]


def test_rrf_contains_both_heads(spark):
    """RRF must rank items appearing high in BOTH lists above
    single-list items; every fused score is a valid 2-term RRF sum."""
    rows = all_queries()["reciprocal_rank_fusion"](spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        want = 0.0
        if r["rank_cos"] is not None:
            want += 1.0 / (60 + r["rank_cos"])
        if r["rank_l2"] is not None:
            want += 1.0 / (60 + r["rank_l2"])
        assert r["rrf_score"] == pytest.approx(want, abs=1e-9)
    both = [r for r in rows if r["rank_cos"] and r["rank_l2"]]
    assert both, "top-10 should contain items present in both rankings"


def test_binary_segmentation_replay(spark):
    """Exact replay of the between-SS argmax over the hourly series."""
    import pandas as pd

    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .where("event_type = 'purchase'")
        .select("ts", "value")
        .toPandas()
    )
    ev["h"] = ev["ts"].dt.floor("h")
    hourly = (
        ev.assign(cents=(ev["value"] * 100.0).round().astype(int))
        .groupby("h")["cents"]
        .sum()
        .sort_index()
    )
    vals = list(hourly)
    n = len(vals)
    s_all = sum(vals)
    best = (None, -1.0)
    s = 0
    for t in range(1, n):
        s += vals[t - 1]
        ss = s * s / t + (s_all - s) * (s_all - s) / (n - t)
        if ss > best[1]:
            best = (t, ss)
    r = all_queries()["binary_segmentation_split"](spark, SF_SMOKE).collect()[0]
    assert r["split_pos"] == best[0]
    assert r["n_hours"] == n
    assert r["between_ss"] == pytest.approx(best[1] / 1e4, abs=1e-3)


def test_multitouch_attribution_mass(spark):
    """Total credit across channels ~= number of converting users
    with touches (each conversion distributes 1 unit, minus integer
    floor dust < n_touches picounits per conversion)."""
    rows = all_queries()["multitouch_attribution"](spark, SF_SMOKE).collect()
    lin_total = sum(r["linear_credit"] for r in rows)
    u_total = sum(r["u_shaped_credit"] for r in rows)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    import pandas as pd

    pdf = ev.select("user_id", "event_type", "ts").toPandas()
    firstp = (
        pdf[pdf.event_type == "purchase"].groupby("user_id")["ts"].min()
    )
    n_conv = 0
    for u, cts in firstp.items():
        t = pdf[(pdf.user_id == u) & (pdf.event_type != "purchase")
                & (pdf.ts < cts)]
        if len(t):
            n_conv += 1
    assert lin_total == pytest.approx(n_conv, abs=0.01)
    assert u_total == pytest.approx(n_conv, abs=0.01)


def test_opq_strided_balances_energy(spark):
    """The permutation must balance the stretched spectrum: strided
    imbalance is far below natural (the OPQ objective direction)."""
    rows = all_queries()["opq_energy_balance"](spark, SF_SMOKE).collect()
    by = {r["allocation"]: r for r in rows}
    assert by["natural"]["imbalance_ratio"] > 2.0
    assert by["strided"]["imbalance_ratio"] < 2.0
    assert by["strided"]["imbalance_ratio"] >= 1.0
    assert by["natural"]["max_share"] > by["strided"]["max_share"]


def test_areal_interpolation_mass_conservation(spark):
    """Area-weighted transfer conserves TOTAL mass exactly (every
    source zone's area is fully covered by target zones), and interior
    fully-covered targets have bounded relative error on the smooth
    field."""
    rows = all_queries()["areal_interpolation"](spark, SF_SMOKE).collect()
    tot_true = sum(r["true_value"] for r in rows)
    tot_est = sum(r["est_value"] for r in rows)
    assert tot_est == pytest.approx(tot_true, rel=1e-9)
    for r in rows:
        assert r["err"] == pytest.approx(
            r["est_value"] - r["true_value"], abs=2e-6
        )


def test_hard_negative_margins(spark):
    """Negatives really are cross-label bucket mates; margin algebra
    holds; and the mined negative is at least as close as any random
    cross-label candidate in the same bucket (spot check)."""
    rows = all_queries()["hard_negative_mining"](spark, SF_SMOKE).collect()
    assert rows
    emb = {
        r["vec_id"]: (r["label"], np.round(
            np.array(r["embedding"], dtype=np.float64) * 1e6))
        for r in spark.read.parquet(
            f"{SF_SMOKE}/embeddings.parquet"
        ).collect()
    }
    for r in rows[::53]:
        a_lab, a_q = emb[r["anchor"]]
        n_lab, n_q = emb[r["hard_negative"]]
        assert n_lab != a_lab
        assert int(np.sum((a_q - n_q) ** 2)) == r["neg_d2"]
        if r["pos_d2"] is not None:
            assert r["margin_d2"] == r["neg_d2"] - r["pos_d2"]
