#!/usr/bin/env python
"""Local differential harness mimicking the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on
DuckDB over the same sf dir, then compares row count, column names,
and values (exact after canonicalization; floats must match to 1e-9
relative — the goal is bit-exact, the tolerance only localizes
diagnostics). Usage:

    python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tb_scale_spatial_data_pipeline_spark.session import get_spark
from tb_scale_spatial_data_pipeline_spark.sources.catalog import TABLES


def dtype_sig(s: pd.Series) -> str:
    """Width-sensitive dtype signature. The driver's exact hash
    distinguishes integer widths (Spark SUM(INT)=BIGINT vs DuckDB
    SUM(INT)=HUGEINT→float64), so the local harness must too."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        try:
            nbits = np.dtype(str(s.dtype).lower()).itemsize * 8
        except TypeError:
            nbits = 64
        return f"i{nbits}"
    if pd.api.types.is_float_dtype(s):
        return "f"
    return "obj"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64")  # unify int widths/nullables
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(c.lower() for c in spark_pdf.columns) != sorted(c.lower() for c in duck_pdf.columns):
        issues.append(
            f"schema mismatch: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return issues
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"rowcount mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return issues
    # Width-strict dtype gate BEFORE canonicalization: an int column on
    # one side vs a float/wider-int on the other means the two engines
    # produced different result types (e.g. unwrapped SUM over INT) —
    # the driver's exact hash fails on that even when values agree.
    sa = {c.lower(): dtype_sig(spark_pdf[c]) for c in spark_pdf.columns}
    sb = {c.lower(): dtype_sig(duck_pdf[c]) for c in duck_pdf.columns}
    for c in sorted(sa):
        ka, kb = sa[c], sb[c]
        if ka == kb:
            continue
        # A null-bearing int column arrives as float64 from BOTH
        # engines; a one-sided int/float or width mismatch is real.
        issues.append(
            f"col {c}: dtype-width mismatch spark={ka} duck={kb} "
            "(driver exact hash would fail — cast BOTH engines explicitly)"
        )
    if issues:
        return issues
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        xa, xb = a[c].to_numpy(), b[c].to_numpy()
        if xa.dtype.kind == "f":
            na, nb = pd.isna(xa), pd.isna(xb)
            if not (na == nb).all():
                issues.append(f"col {c}: null-pattern mismatch")
                continue
            xa2, xb2 = xa[~na], xb[~nb]
            if len(xa2) and not np.array_equal(xa2, xb2):
                close = np.isclose(xa2, xb2, rtol=1e-9, atol=1e-12)
                n_exact = int((xa2 == xb2).sum())
                maxdiff = float(np.max(np.abs(xa2 - xb2)))
                issues.append(
                    f"col {c}: {len(xa2) - n_exact}/{len(xa2)} values not bit-equal "
                    f"(maxdiff={maxdiff:.3e}, all_close={bool(close.all())})"
                )
        else:
            if not (pd.Series(xa).fillna("\0") == pd.Series(xb).fillna("\0")).all():
                n_bad = int((pd.Series(xa).fillna("\0") != pd.Series(xb).fillna("\0")).sum())
                issues.append(f"col {c}: {n_bad} value mismatches (dtype {xa.dtype})")
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM '{sf_dir}/{tname}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        issues = compare(name, spark_pdf, duck_pdf)
        if issues:
            print(f"FAIL {name} ({time.time()-t0:.1f}s, {len(spark_pdf)} rows)")
            for i in issues:
                print(f"    {i}")
            n_fail += 1
        else:
            print(f"PASS {name} ({time.time()-t0:.1f}s, {len(spark_pdf)} rows)")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        f" (shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')},"
        f" defaultParallelism={spark.sparkContext.defaultParallelism})"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
