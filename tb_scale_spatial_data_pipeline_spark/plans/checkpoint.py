"""Stage memoization policy (SURVEY §4): the reference skips
already-built products via ``os.path.exists``
(`0_preprocessing/feature_stacking.py:261-262,318,336-338`). The Spark
engine's equivalent: materialize each pipeline stage as a named
parquet dataset and reuse it when present — incremental recompute
across driver restarts, with parquet's atomic job commit standing in
for the reference's temp-file discipline.
"""

from __future__ import annotations

import functools
import hashlib
import os
import pathlib
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@functools.cache
def source_digest() -> str:
    """sha1 of the package's .py sources (relative path + bytes),
    computed once per process: any code edit yields a new digest, so a
    stage product built by an older tree is never read back."""
    pkg = pathlib.Path(__file__).resolve().parent.parent
    h = hashlib.sha1()
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def stage_root(sf_dir: str) -> str:
    """Deterministic per-(fixture dir, package source) stage-cache root.

    The reference keys its exists-skip products by output filename
    under a fixed work dir (`0_preprocessing/feature_stacking.py:261`);
    the engine's equivalent is a content-addressed directory under the
    system temp root, shared by every pipeline query in (and across)
    processes so common stages are computed exactly once per fixture
    and code revision.
    """
    key = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}|{source_digest()}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), "tb_stage_cache", key)


def stage(
    spark: SparkSession, path: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Compute-if-absent variant of :func:`materialize_stage`: the
    builder (and any eager work inside it, e.g. an RF fit) runs ONLY
    when the stage product is missing — the exists-skip applies to the
    whole stage construction, not just the write.

    Concurrent-writer safe: each writer materializes into its own
    temp directory and publishes with an atomic directory rename; the
    loser of a race (rename fails because the product now exists)
    discards its copy and reads the winner's. Two processes writing
    ``mode("overwrite")`` into the SAME path would instead trample
    each other's _temporary dirs."""
    import shutil

    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        tmp = f"{path}.tmp-{os.getpid()}"
        builder().write.mode("overwrite").parquet(tmp)
        if not os.path.exists(marker):
            if os.path.isdir(path):  # stale partial product, no marker
                shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                pass  # concurrent writer published first — use theirs
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def materialize_stage(
    df: DataFrame, path: str, spark: SparkSession | None = None, force: bool = False
) -> DataFrame:
    """Write-if-absent + read-back. The read-back (not the in-memory
    df) is returned so downstream stages see the exact persisted
    bytes — the same recompute-avoidance semantics as the reference's
    exists-skip, but job-atomic (a failed write leaves no partial
    product thanks to the parquet committer)."""
    spark = spark or df.sparkSession
    marker = os.path.join(path, "_SUCCESS")
    if force or not os.path.exists(marker):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
