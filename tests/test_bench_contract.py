"""Pin the bench contract line's emitted field set.

The driver records only the last ~2000 chars of bench stdout, so
bench.py sheds precision/side fields to fit — but the cross-round
comparable fields (STABLE_FIELDS) must survive EVERY shedding rung:
r14's artifact lost the per-query map, r15's lost legacy35_total, and
each time a verdict evidence channel went dark for a round. These
tests exercise every rung of bench.contract_line and assert the
invariant set survives."""

from __future__ import annotations

import json

from bench import HEADLINE, STABLE_FIELDS, contract_line


def _payload(n_queries: int) -> tuple[dict, dict]:
    names = list(HEADLINE) + [
        f"synthetic_padding_query_name_{i:03d}" for i in range(200)
    ]
    timings = {names[i]: 1.234567 + i * 0.01 for i in range(n_queries)}
    payload = {
        "metric": "headline_query_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "min_total": 99.123,
        "legacy35_total": 123.456,
        "legacy35_min": 101.789,
        "queries": dict(timings),
        "repeats": 3,
        "sf": 0.1,
        "load1": 4.56,
        "pass_load1": [3.2, 4.1, 4.56],
    }
    return payload, timings


def test_stable_fields_survive_every_rung():
    # n_queries chosen to land on each shedding rung: tiny (no shed),
    # the current headline size, and progressively oversized maps that
    # force the 2-dp, 1-dp and centisecond rungs
    for n in (5, len(HEADLINE), 80, 110, 140):
        payload, timings = _payload(n)
        line = contract_line(payload, timings)
        out = json.loads(line)
        missing = [k for k in STABLE_FIELDS if k not in out]
        assert not missing, f"n={n}: contract line dropped {missing}"
        assert len(out["queries"]) == n, f"n={n}: per-query map truncated"


def test_contract_line_fits_driver_tail_window():
    # the driver tail window is ~2000 chars; the guarantee is for the
    # REAL headline set (synthetic 33-char padding names overstate any
    # real growth). If this fails, HEADLINE outgrew the window: shorten
    # names or split the map before the driver channel truncates.
    payload, timings = _payload(len(HEADLINE))
    assert len(contract_line(payload, timings)) <= 1980


def test_centisecond_rung_keeps_comparables():
    payload, timings = _payload(140)
    out = json.loads(contract_line(payload, timings))
    # forced to the last rung: queries are integer centiseconds
    assert out.get("queries_unit") == "cs"
    assert all(isinstance(v, int) for v in out["queries"].values())
    assert out["legacy35_total"] == 123.456
    assert out["legacy35_min"] == 101.789
