"""Shared helpers for the query registry.

Cross-engine float determinism convention: monetary/measure columns in
the fixtures carry ≤2 decimal places, so SUM/AVG are computed over
exact DECIMAL casts and cast back to DOUBLE at the end — bit-identical
between Spark and DuckDB regardless of partitioning/accumulation
order. (A double-accumulated parallel sum is order-dependent in the
last ulp; decimal arithmetic is exact, making the order irrelevant.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_text, word_tokens
from ..sources.catalog import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def registry():
    """One plan module's registry: ``QUERIES`` (name -> fn(spark,
    sf_dir) -> DataFrame), ``ORACLES`` (name -> DuckDB SQL) and the
    ``_q(name, oracle=None)`` decorator that fills both. Each module
    binds its own pair: ``QUERIES, ORACLES, _q = registry()``."""
    queries: dict = {}
    oracles: dict = {}

    def _q(name: str, oracle: str | None = None):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, _q


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-independent exact sum of a ≤`scale`-dp double column."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column, scale: int = 2) -> Column:
    """Order-independent mean: exact decimal sum / count, in double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT({expr})"


def _dec(col: str, p: int = 18, s: int = 2) -> Column:
    return F.col(col).cast(f"decimal({p},{s})")


# Exact discounted revenue: decimal × decimal is exact in both engines.
def _revenue() -> Column:
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


def _words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w): each document's normalized word tokens."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", word_tokens(normalize_text(F.col("text"))).alias("w")
    )


# DuckDB twin of word_tokens(normalize_text(text)).
_SQL_WORDS = (
    r"list_filter(regexp_split_to_array("
    r"trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')"
)
