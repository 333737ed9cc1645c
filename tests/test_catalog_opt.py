"""Focused tests for the r14 optimization-round catalog changes:

- ``catalog.load`` memoizes the LAZY scan plan per (session, path, stat)
  and invalidates when the file under the path is rewritten — the memo
  must never serve stale data (it reuses plans, not results);
- ``catalog.load_par`` repartitions ONLY sub-split tables (the single-
  row-group fixture case) and leaves large inputs untouched, so the
  insurance shuffle provably disappears at scale;
- ``session.ensure_session_invariants`` stays correct when called
  repeatedly (the once-per-session fast path).
"""

from __future__ import annotations

import os

import pytest

from conftest import SF_DIR
from spark_dba_spark import catalog
from spark_dba_spark.session import _RUNTIME_INVARIANTS, ensure_session_invariants


@pytest.fixture(scope="module")
def spark():
    from spark_dba_spark.session import get_spark

    return get_spark("test_catalog_opt", cpus=4)


def test_load_memo_returns_same_lazy_plan(spark):
    a = catalog.load(spark, "/root/testdata/sf0.001", "region")
    b = catalog.load(spark, "/root/testdata/sf0.001", "region")
    assert a is b  # memo hit: identical lazy plan object
    assert a.count() == 5  # still computes from parquet


def test_load_memo_invalidates_on_rewrite(spark, tmp_path):
    p = tmp_path / "t.parquet"
    spark.range(3).toPandas().to_parquet(p)
    df1 = catalog.load(spark, str(tmp_path), "t")
    assert df1.count() == 3
    spark.range(7).toPandas().to_parquet(p)  # rewrite in place
    df2 = catalog.load(spark, str(tmp_path), "t")
    assert df2 is not df1  # stat key changed -> fresh scan plan
    assert df2.count() == 7


def test_load_par_repartitions_sub_split_table(spark):
    df = catalog.load_par(spark, "/root/testdata/sf0.001", "lineitem",
                          "l_orderkey")
    n = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == n
    # identical rows to the plain load
    plain = catalog.load(spark, "/root/testdata/sf0.001", "lineitem")
    assert df.count() == plain.count()


def test_load_par_leaves_large_tables_alone(spark):
    # With the split size forced below the file size the guard must not
    # fire and the plan must be the bare scan (no repartition).
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        df = catalog.load_par(spark, "/root/testdata/sf0.001", "lineitem",
                              "l_orderkey")
        assert "REPARTITION" not in df._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_parse_bytes_forms():
    f = catalog._parse_bytes
    assert f("134217728") == 134217728
    assert f("128m") == 128 * 1024**2
    assert f("128MB") == 128 * 1024**2
    assert f("1g") == 1024**3
    assert f("garbage", default=42) == 42


def test_ensure_invariants_idempotent(spark):
    s1 = ensure_session_invariants(spark)
    s2 = ensure_session_invariants(spark)  # fast path
    assert s1 is spark and s2 is spark
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.parametrize(
    "key, foreign",
    [
        ("spark.sql.session.timeZone", "America/New_York"),
        ("spark.sql.legacy.parquet.nanosAsLong", "false"),
        ("spark.sql.execution.arrow.pyspark.enabled", "false"),
    ],
    ids=["timeZone", "nanosAsLong", "arrow"],
)
def test_ensure_invariants_heals_sentinel_drift(spark, key, foreign):
    """A foreign SQL ``SET`` or ``conf.unset`` of any invariant after the
    first pass must be repaired on the next call, not just the timezone's."""
    want = _RUNTIME_INVARIANTS[key]
    ensure_session_invariants(spark)
    spark.sql(f"SET {key}={foreign}")
    ensure_session_invariants(spark)
    assert spark.conf.get(key) == want
    spark.conf.unset(key)
    ensure_session_invariants(spark)
    assert spark.conf.get(key) == want


def test_load_memo_evicts_superseded_entry(spark, tmp_path):
    """Rewriting a fixture in place must REPLACE the memo entry, not
    accumulate dead plans (ADVICE r14: unbounded growth in long sessions)."""
    import os

    p = tmp_path / "e.parquet"
    spark.range(2).toPandas().to_parquet(p)
    catalog.load(spark, str(tmp_path), "e")
    memo = catalog._scan_memo(spark)
    n_before = len(memo)
    for i in range(3, 6):
        spark.range(i).toPandas().to_parquet(p)
        os.utime(p, ns=(i * 10**9, i * 10**9))  # force a distinct stat sig
        df = catalog.load(spark, str(tmp_path), "e")
        assert df.count() == i
    assert len(memo) == n_before  # replaced in place, never grown


def test_load_memo_invalidates_on_directory_child_rewrite(spark, tmp_path):
    """Directory-based tables (catalog docstring: 'one parquet file (or
    directory) per table'): rewriting a PART file in place leaves the
    directory's own mtime/size unchanged, so the key must fold child
    stats (ADVICE r14 medium — the old key served stale plans here)."""
    import os
    import time

    d = tmp_path / "dtab.parquet"
    d.mkdir()
    spark.range(4).toPandas().to_parquet(d / "part-0.parquet")
    df1 = catalog.load(spark, str(tmp_path), "dtab")
    assert df1.count() == 4
    dir_stat_before = os.stat(d).st_mtime_ns
    spark.range(9).toPandas().to_parquet(d / "part-0.parquet")
    # Make the child's signature provably different even on coarse-mtime
    # filesystems, while restoring the directory's own mtime.
    os.utime(d / "part-0.parquet", ns=(1, 1))
    os.utime(d, ns=(dir_stat_before, dir_stat_before))
    df2 = catalog.load(spark, str(tmp_path), "dtab")
    assert df2 is not df1
    assert df2.count() == 9


def test_parse_bytes_pebibytes():
    assert catalog._parse_bytes("1p") == 1024**5
    assert catalog._parse_bytes("2PB") == 2 * 1024**5


def test_load_par_directory_table_sub_split(spark, tmp_path):
    """load_par's size guard must also see directory tables (sum of part
    files) — the sf1 substrate layout."""
    d = tmp_path / "dp.parquet"
    d.mkdir()
    spark.range(10).withColumnRenamed("id", "k").toPandas().to_parquet(
        d / "part-0.parquet"
    )
    spark.range(10, 20).withColumnRenamed("id", "k").toPandas().to_parquet(
        d / "part-1.parquet"
    )
    df = catalog.load_par(spark, str(tmp_path), "dp", "k")
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert df.count() == 20


@pytest.mark.parametrize("split, repartitioned", [(None, True), ("1k", False)])
def test_load_par_sizes_unstatable_path_from_input_files(
    spark, monkeypatch, split, repartitioned
):
    """A path ``_stat_sig`` cannot stat (``hdfs://``, ``s3://``, ...) is
    sized from ``df.inputFiles()`` through ``fsops.files_size``: a sub-split
    table still gets the insurance repartition, a large one does not, and
    a sizing failure leaves the plain scan."""
    from spark_dba_spark.sources import fsops

    monkeypatch.setattr(catalog, "_stat_sig", lambda path: (None, None))
    sized = []
    real = fsops.files_size

    def spy(base, uris):
        sized.append(real(base, uris))
        return sized[-1]

    monkeypatch.setattr(fsops, "files_size", spy)
    sf = SF_DIR
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if split:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    try:
        df = catalog.load_par(spark, sf, "lineitem", "l_orderkey")
        plan = df._jdf.queryExecution().toString()
        assert ("REPARTITION" in plan) is repartitioned
        assert sized == [os.path.getsize(f"{sf}/lineitem.parquet")]

        def broken(base, uris):
            raise OSError("no filesystem")

        monkeypatch.setattr(fsops, "files_size", broken)
        df = catalog.load_par(spark, sf, "lineitem", "l_orderkey")
        assert "REPARTITION" not in df._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_files_size_through_registered_scheme(tmp_path):
    """``files_size`` states Hadoop-style file URIs through the pyarrow
    filesystem a registered scheme resolves to, percent-encoding undone."""
    import pyarrow.fs as pafs

    from spark_dba_spark.sources import fsops

    d = tmp_path / "bucket" / "t b.parquet"
    d.mkdir(parents=True)
    (d / "part-0").write_bytes(b"x" * 10)
    (d / "part-1").write_bytes(b"y" * 32)

    def factory(uri):
        return pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()), uri.split("://", 1)[1]

    fsops.register_fs_scheme("sizefs", factory)
    try:
        base = "sizefs://bucket/t b.parquet"
        uris = [f"sizefs://bucket/t%20b.parquet/part-{i}" for i in (0, 1)]
        assert fsops.files_size(base, uris) == 42
        with pytest.raises(FileNotFoundError):
            fsops.files_size(base, uris + ["sizefs://bucket/t%20b.parquet/gone"])
    finally:
        fsops._FS_SCHEMES.pop("sizefs", None)
