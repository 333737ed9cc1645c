"""Fixture-table catalog: schema-stable loaders over the driver parquet.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet file (or directory) per table under
``{sf_dir}/{name}.parquet``.

Loaders return plain DataFrames so Catalyst keeps full pushdown/pruning
freedom — no caching, no materialization here. The only normalization is the
``events.ts`` column: the fixture stores parquet TIMESTAMP(NANOS) which Spark
reads (under ``nanosAsLong``) as a raw long; we convert to TIMESTAMP_NTZ
(microsecond truncation) which is exactly what DuckDB's reader does, keeping
the oracle comparable.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_session_invariants
from .sources import fsops

_SIZE_SUFFIX = {
    "k": 1024,
    "m": 1024**2,
    "g": 1024**3,
    "t": 1024**4,
    "p": 1024**5,
}


def _parse_bytes(v: str, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '128MB')."""
    s = str(v).strip().lower().removesuffix("b")
    try:
        if s and s[-1] in _SIZE_SUFFIX:
            return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
        return int(s)
    except ValueError:
        return default

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Lazy-plan memo: path -> (stat_sig, DataFrame), held per SparkSession. A
# DataFrame is an UNEXECUTED logical plan — reusing it never caches data
# (every action still scans the parquet), it only skips the repeated py4j
# `spark.read.parquet` round-trip + footer/schema read that showed up as
# ~0.1s per table load in the r14 bench profile (plan-build phase). The
# stat signature invalidates the memo whenever anything under the path is
# rewritten (tests overwrite tmp fixtures in place); for directory-based
# tables the signature folds in every child file's (relpath, mtime_ns,
# size), so an in-place part-file rewrite — which leaves the directory's
# own mtime/size unchanged — still invalidates (ADVICE r14). Keying by
# path and REPLACING the entry on signature change means superseded plans
# are dropped immediately instead of accumulating for the session's
# lifetime. Non-statable paths (remote schemes) bypass the memo entirely.
_SCAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _scan_memo(spark: SparkSession) -> dict:
    global _SCAN_MEMO
    if _SCAN_MEMO is None:
        import weakref

        _SCAN_MEMO = weakref.WeakKeyDictionary()
    memo = _SCAN_MEMO.get(spark)
    if memo is None:
        memo = {}
        _SCAN_MEMO[spark] = memo
    return memo


def _stat_sig(path: str):
    """Change-detection signature for a local file or directory table, and
    the total on-disk bytes (``load_par``'s size guard shares the walk).
    Returns ``(sig, total_bytes)`` or ``(None, None)`` if not statable."""
    try:
        st = os.stat(path)
        p = Path(path)
        if not p.is_dir():
            return (st.st_mtime_ns, st.st_size), st.st_size
        children = []
        total = 0
        for f in sorted(p.rglob("*")):
            if f.is_file():
                fst = f.stat()
                children.append(
                    (str(f.relative_to(p)), fst.st_mtime_ns, fst.st_size)
                )
                total += fst.st_size
        return (st.st_mtime_ns, tuple(children)), total
    except OSError:
        return None, None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy scan, pushdown-friendly)."""
    ensure_session_invariants(spark)
    path = f"{sf_dir}/{name}.parquet"
    sig, _ = _stat_sig(path)
    if sig is not None:
        memo = _scan_memo(spark)
        hit = memo.get(path)
        if hit is not None and hit[0] == sig:
            return hit[1]
        df = spark.read.parquet(path)
        if name == "events":
            df = _normalize_events(df)
        memo[path] = (sig, df)
        return df
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_events(df)
    return df


def load_par(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Load a table with the map stage guaranteed ≥ defaultParallelism tasks.

    A table smaller than one scan split (`spark.sql.files.maxPartitionBytes`,
    default 128 MB) arrives as a single parquet row group = ONE task, so every
    downstream map-side operator (filter, partial agg, broadcast-join probe,
    per-row expression work) runs on one core regardless of cluster size. In
    that case — and ONLY in that case — pay one keyed insurance shuffle of the
    (tiny, ≤ one split) table to defaultParallelism partitions. At real scale
    the scan has thousands of splits, the branch never fires, and the plan is
    identical to :func:`load`. The explicit partition count survives AQE
    coalescing; the hash key (the table's natural high-cardinality key) avoids
    round-robin's sort-before-repartition pass (SPARK-23207).
    """
    df = load(spark, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    _, total = _stat_sig(path)
    if total is None:
        # Non-statable path (hdfs://, s3://, ...): size the files the scan
        # will read through the engine's pyarrow filesystem layer, so a
        # sub-split remote table still gets the insurance repartition. On
        # any failure, no-op (at real scale the no-op is also the right
        # answer).
        try:
            total = fsops.files_size(path, df.inputFiles())
        except Exception:
            return df
    try:
        split_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except Exception:
        split_bytes = 134217728
    if total >= split_bytes:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism, F.col(key))


def _normalize_events(df: DataFrame) -> DataFrame:
    # Under spark.sql.legacy.parquet.nanosAsLong the ts column arrives as
    # long nanoseconds. `div` keeps the arithmetic integral (a double round
    # trip would lose precision past 2^53), truncating to microseconds just
    # like DuckDB's TIMESTAMP_NS -> TIMESTAMP coercion; cast through the
    # UTC session to TIMESTAMP_NTZ so the value is timezone-independent.
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df

