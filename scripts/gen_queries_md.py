#!/usr/bin/env python
"""Regenerate QUERIES.md from the live registry (run after adding
queries so the doc never drifts from the code)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tb_scale_spatial_data_pipeline_spark import plans
from tb_scale_spatial_data_pipeline_spark.plans import all_oracles, all_queries


def main() -> None:
    queries, oracles = all_queries(), all_oracles()
    owner = {}
    for mod in plans._MODULES:
        for name in mod.QUERIES:
            owner[name] = mod.__name__.rsplit(".", 1)[-1]
    # golden-table oracles (the DuckDB twin reads a pinned parquet
    # rather than recomputing from the tables) are counted separately
    # from analytically-derived oracles; since r16 the pins themselves
    # are INDEPENDENTLY generated (scripts/make_multimodal_golden.py
    # asserts its own re-derivation equals the live query pre-pin)
    golden = {n for n, sql in oracles.items() if "multimodal_golden" in sql}
    n_oracle = len(oracles) - len(golden)
    lines = [
        "# QUERIES — registry listing (generated by scripts/gen_queries_md.py)",
        "",
        f"{len(queries)} queries: {n_oracle} DuckDB-oracle-verified "
        "(bit-exact at sf0.01 AND sf0.1), "
        f"{len(golden)} golden-table-verified (independently generated "
        "pins, bit-exact; see FIXTURES.md provenance), "
        + (
            f"{len(queries) - len(oracles)} rows-only "
            "(property-tested in pytest)."
            if len(queries) > len(oracles)
            else "0 rows-only."
        ),
        "",
        "| query | module | check |",
        "|---|---|---|",
    ]
    for name in sorted(queries):
        check = (
            "golden"
            if name in golden
            else ("oracle" if name in oracles else "rows-only")
        )
        lines.append(f"| `{name}` | {owner[name]} | {check} |")
    lines += [
        "",
        "## Retired / renamed names (driver-ledger reconciliation)",
        "",
        "Names below carry historical driver CORRECTNESS rows but are no",
        "longer registered; cumulative tooling should map them here before",
        "reporting unmatched rows (see `plans.RETIRED_NAMES`):",
        "",
    ]
    for old, new in sorted(plans.RETIRED_NAMES.items()):
        lines.append(f"- `{old}` → `{new}`")
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(
        f"QUERIES.md: {len(queries)} queries ({n_oracle} oracle, "
        f"{len(golden)} golden)"
    )


if __name__ == "__main__":
    main()
