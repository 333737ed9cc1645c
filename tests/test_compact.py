"""Compaction-job tests — the reference-parity invariants from FIXTURES.md §B:
file count, record preservation, atomic swap, trash recovery, audit log,
validation ladder negatives, concurrent-modification abort."""

from __future__ import annotations

import collections
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_dba_spark.plans.compact import CompactionParams, compact
from spark_dba_spark.sources.fsops import FsOps


def write_small_files(folder: str, n_files: int = 4, rows_per_file: int = 25,
                      start: int = 0, with_score: bool = False,
                      decoys: bool = True, prefix: str = "part") -> list[tuple]:
    """A folder of small parquet files (+ hidden-file decoys)."""
    os.makedirs(folder, exist_ok=True)
    rows = []
    for f in range(n_files):
        ids = list(range(start + f * rows_per_file, start + (f + 1) * rows_per_file))
        cols = {
            "id": pa.array(ids, pa.int64()),
            "name": pa.array([f"name_{i}" for i in ids]),
        }
        if with_score:
            cols["score"] = pa.array([i * 0.5 for i in ids], pa.float64())
        pq.write_table(pa.table(cols), f"{folder}/{prefix}_{f}.parquet")
        rows += [
            (i, f"name_{i}", i * 0.5 if with_score else None) for i in ids
        ]
    if decoys:
        open(f"{folder}/_SUCCESS", "w").close()
        open(f"{folder}/.hidden.parquet", "w").close()
    return rows


def read_rows(spark, folder: str) -> list[tuple]:
    df = spark.read.parquet(folder)
    cols = df.columns
    return [
        (r["id"], r["name"], r["score"] if "score" in cols else None)
        for r in df.collect()
    ]


def parquet_files(folder: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(folder):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return out


def test_flat_compaction_preserves_records(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    expected = write_small_files(src, n_files=5)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=2))
    assert res.success, res.errors
    assert res.partitions == {"/": "SUCCESS"}
    assert len(parquet_files(tgt)) == 2
    assert collections.Counter(read_rows(spark, tgt)) == collections.Counter(expected)
    assert os.path.exists(f"{tgt}/.defraglog")


def test_dynamic_file_count(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src, n_files=6)
    # tiny target_file_bytes → forces >1 output file from the size heuristic
    import math

    total = sum(os.path.getsize(p) for p in parquet_files(src))
    tfb = math.ceil(total / 3)
    res = compact(
        spark,
        CompactionParams(source=src, target=tgt, target_file_bytes=tfb),
    )
    assert res.success, res.errors
    assert len(parquet_files(tgt)) == math.ceil(total / tfb) == 3


def test_partitioned_tree_structure_preserved(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    exp1 = write_small_files(f"{src}/year=2024/month=01", n_files=3, start=0)
    exp2 = write_small_files(f"{src}/year=2024/month=02", n_files=4, start=1000)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=1))
    assert res.success, res.errors
    assert set(res.partitions) == {"/year=2024/month=01", "/year=2024/month=02"}
    assert len(parquet_files(f"{tgt}/year=2024/month=01")) == 1
    assert len(parquet_files(f"{tgt}/year=2024/month=02")) == 1
    got = read_rows(spark, f"{tgt}/year=2024/month=01")
    assert collections.Counter(got) == collections.Counter(exp1)
    got2 = read_rows(spark, f"{tgt}/year=2024/month=02")
    assert collections.Counter(got2) == collections.Counter(exp2)


def test_schema_evolution_with_explicit_schema(spark, tmp_path):
    """v1 files {id,name} + v2 files {id,name,score}; explicit v2 DDL →
    merged output carries v2 for all records (v1 rows get null score) —
    the reference's schema-evolution semantic (§1.3)."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src, n_files=2, start=0, with_score=False, decoys=False,
                      prefix="v1")
    write_small_files(src, n_files=2, start=500, with_score=True, decoys=False,
                      prefix="v2")
    schema_file = str(tmp_path / "schema.ddl")
    with open(schema_file, "w") as fh:
        fh.write("id BIGINT, name STRING, score DOUBLE")
    res = compact(
        spark,
        CompactionParams(
            source=src, target=tgt, file_count=1, schema_file=schema_file
        ),
    )
    assert res.success, res.errors
    df = spark.read.parquet(tgt)
    assert [f.name for f in df.schema] == ["id", "name", "score"]
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 50 + 50
    assert rows[0]["score"] is None  # v1 row promoted with null
    assert rows[500]["score"] == 250.0  # v2 row kept


def test_target_exists_without_overwrite_fails(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src)
    os.makedirs(tgt)
    res = compact(spark, CompactionParams(source=src, target=tgt))
    assert not res.success
    assert any("overwrite" in e for e in res.errors)


def test_single_file_folder_rejected(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src, n_files=1)
    res = compact(spark, CompactionParams(source=src, target=tgt))
    assert not res.success
    assert res.partitions == {"/": "TOO_FEW_FILES"}


def test_mixed_content_folder_rejected(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src, n_files=3)
    with open(f"{src}/notes.txt", "w") as fh:
        fh.write("foreign file")
    res = compact(spark, CompactionParams(source=src, target=tgt))
    assert not res.success
    # rejected at root preflight (C1), same as the reference's
    # validateEverythingAtRootLevel — no partition job ever starts
    assert res.partitions == {}
    assert any("not a valid" in e for e in res.errors)


def test_empty_source_fails(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    res = compact(
        spark, CompactionParams(source=src, target=str(tmp_path / "tgt"))
    )
    assert not res.success
    # empty folders now fail C1 root preflight (M4: non-empty required)
    assert any("not a valid" in e or "no parquet data" in e for e in res.errors)


def test_overwrite_trash_then_swap(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    tmpf = str(tmp_path / "tmp")
    trash = str(tmp_path / "trash")
    os.makedirs(tmpf)
    os.makedirs(trash)
    expected = write_small_files(src, n_files=4)
    old = write_small_files(tgt, n_files=2, start=9000, decoys=False)

    res = compact(
        spark,
        CompactionParams(
            source=src, target=tgt, file_count=1, overwrite=True,
            tmp_folder=tmpf, trash_folder=trash,
        ),
    )
    assert res.success, res.errors
    # new target contents = source records, exactly 1 file
    assert len(parquet_files(tgt)) == 1
    assert collections.Counter(read_rows(spark, tgt)) == collections.Counter(expected)
    # previous target recoverable from trash
    trash_dirs = os.listdir(trash)
    assert len(trash_dirs) == 1 and trash_dirs[0].startswith("tgt_")
    trashed = read_rows(spark, f"{trash}/{trash_dirs[0]}")
    assert collections.Counter(trashed) == collections.Counter(old)
    # session tmp cleaned (no errors)
    assert os.listdir(tmpf) == []


def test_overwrite_requires_tmp_and_trash(spark, tmp_path):
    src = str(tmp_path / "src")
    write_small_files(src)
    res = compact(
        spark,
        CompactionParams(
            source=src, target=str(tmp_path / "tgt"), overwrite=True
        ),
    )
    assert not res.success
    assert any("tmp folder" in e for e in res.errors)


def test_concurrent_modification_aborts_swap(spark, tmp_path, monkeypatch):
    """FIXTURES.md §B.5: a file touched between scan-snapshot and commit
    must abort the swap and leave the target untouched."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    tmpf = str(tmp_path / "tmp")
    trash = str(tmp_path / "trash")
    os.makedirs(tmpf)
    os.makedirs(trash)
    write_small_files(src, n_files=3)
    old = write_small_files(tgt, n_files=2, start=9000, decoys=False)

    orig_snapshot = FsOps.snapshot
    calls = {"n": 0}

    def mutating_snapshot(self, folder):
        snap = orig_snapshot(self, folder)
        if folder == src:
            calls["n"] += 1
            if calls["n"] == 1:  # mutate right after the first snapshot
                pq.write_table(
                    pa.table({"id": pa.array([1], pa.int64()),
                              "name": pa.array(["late"])}),
                    f"{src}/late_arrival.parquet",
                )
        return snap

    monkeypatch.setattr(FsOps, "snapshot", mutating_snapshot)
    res = compact(
        spark,
        CompactionParams(
            source=src, target=tgt, file_count=1, overwrite=True,
            tmp_folder=tmpf, trash_folder=trash,
        ),
    )
    assert not res.success
    assert res.partitions == {"/": "SOURCE_CHANGED"}
    # target untouched, nothing trashed, tmp kept for inspection
    assert collections.Counter(read_rows(spark, tgt)) == collections.Counter(old)
    assert os.listdir(trash) == []
    assert len(os.listdir(tmpf)) == 1


def test_defraglog_structure(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=1))
    assert res.success
    with open(f"{tgt}/.defraglog") as fh:
        lines = fh.read().splitlines()
    assert any("\theader\t" in line for line in lines)
    assert any("\tpartition:/\t" in line for line in lines)
    # header block renders before partition blocks
    first_partition = next(i for i, l in enumerate(lines) if "\tpartition:" in l)
    assert all("\theader\t" not in l for l in lines[first_partition:])


def test_cli_main(spark, tmp_path, capsys):
    from spark_dba_spark.plans import compact as compact_mod

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_small_files(src)
    rc = compact_mod.main(
        ["--sourceFolder", src, "--targetFolder", tgt, "--fileCount", "1"]
    )
    assert rc == 0
    assert len(parquet_files(tgt)) == 1


def test_orc_compaction_roundtrip(spark, tmp_path):
    """FORMAT_EXTENSIONS advertises orc; prove the native-ORC path works
    through the same compaction semantics as parquet."""
    from pyspark.sql import functions as F

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    os.makedirs(src)
    df = spark.range(200).selectExpr("id", "cast(id * 0.5 as double) AS score")
    for i in range(4):
        df.filter((F.col("id") % 4) == i).coalesce(1).write.orc(f"{src}/_stage_{i}")
    # flatten the staged files into src as sibling .orc files
    import glob
    import shutil

    for i, p in enumerate(glob.glob(f"{src}/_stage_*/*.orc")):
        shutil.move(p, f"{src}/part_{i}.orc")
    for i in range(4):
        shutil.rmtree(f"{src}/_stage_{i}")
    res = compact(
        spark, CompactionParams(source=src, target=tgt, file_count=1, fmt="orc")
    )
    assert res.success, res.errors
    out = [f for f in os.listdir(tgt) if f.endswith(".orc")]
    assert len(out) == 1
    assert spark.read.orc(tgt).count() == 200


def test_sort_by_clusters_rows_within_files(spark, tmp_path):
    """sort_by yields sorted rows inside each output file → parquet min/max
    stats become selective (layout optimization, r2 extension)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    # shuffle ids across input files so unsorted output would interleave
    import random

    rng = random.Random(7)
    ids = list(range(1000))
    rng.shuffle(ids)
    os.makedirs(src)
    for i in range(4):
        chunk = ids[i * 250:(i + 1) * 250]
        pq.write_table(
            pa.table({"id": pa.array(chunk, pa.int64())}),
            f"{src}/part_{i}.parquet",
        )
    res = compact(
        spark,
        CompactionParams(source=src, target=tgt, file_count=2, sort_by=("id",)),
    )
    assert res.success, res.errors
    for p in parquet_files(tgt):
        vals = pq.read_table(p).column("id").to_pylist()
        assert vals == sorted(vals)


def test_cli_main_compacts(spark, tmp_path, capsys):
    """The scopt-mirroring CLI (README.md:24-43 parity) drives a full job."""
    from spark_dba_spark.plans import compact as compact_mod

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_small_files(src, n_files=3)
    rc = compact_mod.main([
        "--sourceFolder", src, "--targetFolder", tgt, "--fileCount", "1",
    ])
    assert rc == 0
    assert len(parquet_files(tgt)) == 1
    out = capsys.readouterr().out
    assert "SUCCESS" in out or "compacted" in out


def test_nested_schema_compaction(spark, tmp_path):
    """Compaction is schema-generic: nested struct/array/map rows survive
    byte-for-byte (the reference never inspects fields; neither do we)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    os.makedirs(src)
    df = spark.range(60).selectExpr(
        "id",
        "named_struct('a', id * 2, 'b', cast(id as string)) AS st",
        "array(id, id + 1, id + 2) AS arr",
        "map('k1', id, 'k2', id * 10) AS mp",
    )
    for i in range(3):
        df.filter((df.id % 3) == i).coalesce(1).write.parquet(f"{src}/_st_{i}")
    import glob
    import shutil

    for i, p in enumerate(glob.glob(f"{src}/_st_*/*.parquet")):
        shutil.move(p, f"{src}/part_{i}.parquet")
    for i in range(3):
        shutil.rmtree(f"{src}/_st_{i}")
    res = compact(
        spark, CompactionParams(source=src, target=tgt, file_count=1)
    )
    assert res.success, res.errors
    back = spark.read.parquet(tgt)
    assert back.count() == 60
    row = back.filter(back.id == 7).collect()[0]
    assert row["st"]["a"] == 14 and row["arr"] == [7, 8, 9]
    assert row["mp"]["k2"] == 70


def test_dry_run_reports_without_writing(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_small_files(f"{src}/dt=a", n_files=4)
    write_small_files(f"{src}/dt=b", n_files=1, start=400)
    res = compact(spark, CompactionParams(
        source=src, target=tgt, file_count=2, dry_run=True,
    ))
    assert res.success
    assert res.partitions == {
        "/dt=a": "WOULD_COMPACT", "/dt=b": "TOO_FEW_FILES",
    }
    assert not os.path.exists(tgt)  # nothing written
    assert any("dry-run" in line for line in res.log_lines)


def test_compact_where_only_rewrites_fragmented_leaf(spark, tmp_path):
    """Selective maintenance (compact_where): in a 2-leaf tree, only the
    leaf whose file count exceeds threshold x planned output is rewritten;
    the healthy leaf's files are untouched (same inodes/paths)."""
    from spark_dba_spark.plans.compact import compact_where

    src = tmp_path / "tree"
    frag_rows = write_small_files(str(src / "dt=frag"), n_files=8, rows_per_file=10)
    ok_rows = write_small_files(str(src / "dt=ok"), n_files=2, rows_per_file=10,
                                start=1000)
    ok_before = sorted(parquet_files(str(src / "dt=ok")))
    ok_mtimes = {p: os.path.getmtime(p) for p in ok_before}
    (tmp_path / "tmp").mkdir()
    (tmp_path / "trash").mkdir()

    params = CompactionParams(
        source=str(src),
        target=str(src),  # in-place maintenance
        file_count=1,
        overwrite=True,
        tmp_folder=str(tmp_path / "tmp"),
        trash_folder=str(tmp_path / "trash"),
    )
    # threshold 4: frag leaf ratio 8/1=8 >= 4; ok leaf 2/1=2 < 4
    res = compact_where(spark, params, threshold=4.0)
    assert res.success, res.errors
    assert res.partitions["/dt=frag"] == "SUCCESS"
    assert res.partitions["/dt=ok"] == "SKIPPED_NOT_FRAGMENTED"

    # fragmented leaf: rewritten to 1 file, records preserved
    assert len(parquet_files(str(src / "dt=frag"))) == 1
    assert sorted(read_rows(spark, str(src / "dt=frag"))) == sorted(frag_rows)
    # healthy leaf: exact same files, never rewritten
    ok_after = sorted(parquet_files(str(src / "dt=ok")))
    assert ok_after == ok_before
    assert {p: os.path.getmtime(p) for p in ok_after} == ok_mtimes
    assert sorted(read_rows(spark, str(src / "dt=ok"))) == sorted(ok_rows)


def test_compact_where_dry_run_and_cli_flag(spark, tmp_path):
    """--minFragmentation reaches the job through the CLI; dry-run reports
    skips without writing."""
    from spark_dba_spark.plans.compact import main as compact_main

    src = tmp_path / "t2"
    write_small_files(str(src / "dt=a"), n_files=6, rows_per_file=5)
    write_small_files(str(src / "dt=b"), n_files=2, rows_per_file=5, start=500)
    rc = compact_main([
        "--sourceFolder", str(src),
        "--targetFolder", str(tmp_path / "out"),
        "--fileCount", "1",
        "--minFragmentation", "3.0",
    ])
    assert rc == 0
    # only dt=a (6/1 >= 3) lands in the target
    assert (tmp_path / "out" / "dt=a").is_dir()
    assert not (tmp_path / "out" / "dt=b").exists()


AVRO_SCHEMA = {
    "type": "record",
    "name": "Rec",
    "fields": [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}],
}


def write_tiny_avro_leaf(folder: str, n_files: int, rows_per_file: int = 20) -> list:
    from spark_dba_spark.sources import avro_codec as ac

    os.makedirs(folder, exist_ok=True)
    rows = []
    for f in range(n_files):
        recs = [
            {"id": i, "name": f"name_{i}"}
            for i in range(f * rows_per_file, (f + 1) * rows_per_file)
        ]
        with open(f"{folder}/part_{f}.avro", "wb") as fh:
            fh.write(ac.write_container(recs, AVRO_SCHEMA))
        rows += recs
    return rows


def avro_output(folder: str) -> tuple[int, list]:
    from spark_dba_spark.sources import avro_codec as ac

    files = [
        os.path.join(folder, f) for f in os.listdir(folder)
        if f.endswith(".avro") and not f.startswith((".", "_"))
    ]
    recs = [r for p in files for r in ac.read_container(open(p, "rb").read())]
    return len(files), recs


def test_avro_file_count_is_exact(spark, tmp_path):
    """file_count=2 over six tiny files: the read packs the files into
    exactly two bins, and each bin is written as one file."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    expected = write_tiny_avro_leaf(src, n_files=6)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=2, fmt="avro"))
    assert res.success, res.errors
    n_files, got = avro_output(tgt)
    assert n_files == 2
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in expected)


def test_avro_file_count_above_split_count(spark, tmp_path):
    """Bins cannot outnumber splits: asking for more files than there are
    splits writes one file per split (one per tiny input file)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    expected = write_tiny_avro_leaf(src, n_files=3)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=5, fmt="avro"))
    assert res.success, res.errors
    n_files, got = avro_output(tgt)
    assert n_files == 3
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in expected)


# --------------------------------------------------------------------------
# Block-copy compaction (avro without sort_by/zorder_by)
# --------------------------------------------------------------------------

MIXED_V1 = {
    "type": "record",
    "name": "Sale",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "day", "type": ["null", {"type": "int", "logicalType": "date"}],
         "default": None},
        {"name": "price", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 10, "scale": 2}},
        {"name": "tag", "type": ["null", "string"], "default": None},
    ],
}
MIXED_V2 = {
    **MIXED_V1,
    "fields": MIXED_V1["fields"] + [
        {"name": "qty", "type": ["null", "int"], "default": None},
    ],
}


def write_mixed_avro_leaf(folder: str) -> None:
    """Six files: three old-schema, three new-schema (newer mtimes, so the
    latest-file rule picks the new schema), over the null, deflate and
    snappy codecs, several blocks each."""
    import datetime

    from spark_dba_spark.sources import avro_codec as ac

    os.makedirs(folder, exist_ok=True)
    codecs = ["null", "deflate", "snappy"]
    for f in range(6):
        v2 = f >= 3
        recs = []
        for i in range(f * 40, (f + 1) * 40):
            rec = {
                "id": i,
                "ts": datetime.datetime(2024, 1, 1) + datetime.timedelta(
                    seconds=i * 3607, microseconds=i),
                "day": None if i % 5 == 0 else datetime.date(2020, 1, 1)
                + datetime.timedelta(days=i),
                "price": (i * 1234).to_bytes(4, "big", signed=True),
                "tag": None if i % 3 == 0 else f"t{i % 7}",
            }
            if v2:
                rec["qty"] = None if i % 4 == 0 else i % 11
            recs.append(rec)
        path = f"{folder}/part_{f}.avro"
        with open(path, "wb") as fh:
            fh.write(ac.write_container(
                recs, MIXED_V2 if v2 else MIXED_V1, codec=codecs[f % 3],
                block_records=15,
            ))
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))


def test_block_copy_matches_record_path_on_mixed_leaf(spark, tmp_path):
    """Two writer schemas × three codecs, logical types and nullable
    unions: the block-copy output holds the record path's record multiset
    (sort_by forces the record path)."""
    src = str(tmp_path / "src")
    write_mixed_avro_leaf(src)
    fused = compact(spark, CompactionParams(
        source=src, target=str(tmp_path / "fused"), file_count=2, fmt="avro"))
    records = compact(spark, CompactionParams(
        source=src, target=str(tmp_path / "records"), file_count=2,
        fmt="avro", sort_by=("id",)))
    assert fused.partitions == records.partitions == {"/": "SUCCESS"}
    n_files, got = avro_output(str(tmp_path / "fused"))
    _, want = avro_output(str(tmp_path / "records"))
    assert n_files == 2 and len(got) == 240
    assert collections.Counter(repr(sorted(r.items())) for r in got) == (
        collections.Counter(repr(sorted(r.items())) for r in want)
    )


def test_block_copy_walks_a_split_file_once(spark, tmp_path):
    """A file larger than the split size is cut into several splits; the
    copy emits each of its blocks exactly once."""
    from spark_dba_spark.sources import avro_codec as ac
    from spark_dba_spark.sources import avro_spark as asp

    src = str(tmp_path / "src")
    os.makedirs(src)
    big = [{"id": i, "name": f"n{i:05d}" * 4} for i in range(3000)]
    small = [{"id": 10_000 + i, "name": "s"} for i in range(10)]
    with open(f"{src}/big.avro", "wb") as fh:
        fh.write(ac.write_container(big, AVRO_SCHEMA, codec="snappy", block_records=50))
    with open(f"{src}/small.avro", "wb") as fh:
        fh.write(ac.write_container(small, AVRO_SCHEMA, codec="snappy"))
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1024")
    try:
        bins = asp.read_avro_folder(spark, src, partitions=2)._avro_scan.bins
        assert sum(p.endswith("big.avro") for b in bins for p, _, _ in b) > 2
        res = compact(spark, CompactionParams(
            source=src, target=str(tmp_path / "tgt"), file_count=2, fmt="avro"))
    finally:
        spark.conf.unset(key) if old is None else spark.conf.set(key, old)
    assert res.partitions == {"/": "SUCCESS"}, res.errors
    _, got = avro_output(str(tmp_path / "tgt"))
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in big + small)


def test_block_copy_decodes_no_record(tmp_path, monkeypatch):
    """A same-schema 100-file leaf copies with zero record decodes, and
    the bins report the source block headers' record total. Each file has
    two full 3-record blocks and a 1-record tail block, which merges with
    the next file's first block into one output block."""
    import pandas as pd
    import pyarrow.fs as pafs

    from spark_dba_spark.sources import avro_codec as ac
    from spark_dba_spark.sources import avro_spark as asp

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir(), out.mkdir()
    expected = []
    for f in range(100):
        recs = [{"id": f * 7 + i, "name": f"r{f}"} for i in range(7)]
        (src / f"p{f:03d}.avro").write_bytes(
            ac.write_container(recs, AVRO_SCHEMA, codec="snappy", block_records=3))
        expected += recs

    def no_decode(*_a, **_k):
        raise AssertionError("a record was decoded")

    monkeypatch.setattr(ac, "decode_datum", no_decode)
    fs = pafs.LocalFileSystem()
    bins = asp._plan_bins(asp._list_avro_files(fs, str(src), False), 1 << 27, 1 << 22, 4, 3)
    pdf = pd.DataFrame({
        "b": range(len(bins)),
        "path": [[p for p, _, _ in b] for b in bins],
        "start": [[lo for _, lo, _ in b] for b in bins],
        "end": [[hi for _, _, hi in b] for b in bins],
    })
    rows = pd.concat(asp._copy_bins(
        iter([pdf]), src_fs=fs, out_fs=fs, root=str(out), run_token="t",
        schema=AVRO_SCHEMA, codec="snappy", block_records=3, block_bytes=None,
    ))
    assert rows["n"].sum() == len(expected) == 700
    assert sorted(os.listdir(out)) == [f"part-{b:05d}-t.avro" for b in range(3)]
    monkeypatch.undo()
    got = [r for p in sorted(out.iterdir()) for r in ac.read_container(p.read_bytes())]
    assert sorted(got, key=lambda r: r["id"]) == expected


def test_avro_compaction_runs_write_and_verify_only(spark, tmp_path, monkeypatch):
    """Structural guard: compacting one avro leaf runs exactly one Spark
    job, the fused write whose tasks also read their output back, so
    neither a separate read+count job nor a separate verify job can come
    back."""
    import spark_dba_spark.plans.compact as cm

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_tiny_avro_leaf(src, n_files=6)
    sc = spark.sparkContext
    orig = cm._process_partition

    def in_group(*a, **k):  # leaves run on pool threads: tag each one's jobs
        sc.setJobGroup("guard-compact", "compact")
        return orig(*a, **k)

    monkeypatch.setattr(cm, "_process_partition", in_group)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=2, fmt="avro"))
    assert res.partitions == {"/": "SUCCESS"}, res.errors
    assert len(sc.statusTracker().getJobIdsForGroup("guard-compact")) == 1


def _py4j_round_trips(monkeypatch, fn) -> int:
    """py4j commands the driver sends, from any thread, while ``fn`` runs.
    Memory commands are not counted: py4j sends them to release Java
    proxies whenever Python's garbage collector gets to them, in bursts
    that belong to whatever ran before."""
    import itertools

    from py4j import protocol
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    sent = itertools.count()
    for cls in (ClientServerConnection, GatewayConnection):
        orig = cls.send_command

        def counted(self, command, _orig=orig, **kw):
            if not command.startswith(protocol.MEMORY_COMMAND_NAME):
                next(sent)
            return _orig(self, command, **kw)

        monkeypatch.setattr(cls, "send_command", counted)
    try:
        fn()
    finally:
        monkeypatch.undo()
    return next(sent)


def test_compaction_round_trips_flat_in_file_count(spark, tmp_path, monkeypatch):
    """A compaction's py4j round trips do not grow with the leaf's file
    count: FsOps lists and stats through pyarrow and the verify decodes
    inside the write's tasks. When FsOps listed through py4j, a 10-file
    leaf took about 1,300 round trips and a 200-file leaf about 10,400."""

    def run(name: str, n_files: int) -> None:
        src = str(tmp_path / f"src_{name}")
        write_tiny_avro_leaf(src, n_files=n_files, rows_per_file=10)
        res = compact(spark, CompactionParams(
            source=src, target=str(tmp_path / f"tgt_{name}"), file_count=2,
            fmt="avro"))
        assert res.partitions == {"/": "SUCCESS"}, res.errors

    run("warm", 3)  # first-call costs (class lookups, worker start) go here
    few = _py4j_round_trips(monkeypatch, lambda: run("few", 10))
    many = _py4j_round_trips(monkeypatch, lambda: run("many", 200))
    assert abs(many - few) < 100, (few, many)


def test_failed_direct_write_rolls_back_target(spark, tmp_path):
    """A snappy block with a bad CRC fails the write job: the leaf reports
    EXCEPTION, the direct-written target is removed (a rerun is not
    refused with 'target exists'), and the source is untouched."""
    from spark_dba_spark.sources import avro_codec as ac

    src, tgt = tmp_path / "src", tmp_path / "tgt"
    src.mkdir()
    for f in range(4):
        recs = [{"id": f * 10 + i, "name": "x"} for i in range(10)]
        data = bytearray(ac.write_container(recs, AVRO_SCHEMA, codec="snappy"))
        if f == 2:
            data[-17] ^= 0xFF  # last CRC byte of the last block
        (src / f"part_{f}.avro").write_bytes(bytes(data))
    before = {p.name: p.read_bytes() for p in src.iterdir()}
    res = compact(spark, CompactionParams(
        source=str(src), target=str(tgt), file_count=2, fmt="avro"))
    assert res.partitions == {"/": "EXCEPTION"}
    assert not tgt.exists()
    assert {p.name: p.read_bytes() for p in src.iterdir()} == before


@pytest.mark.parametrize("delta", [-1, 1])
def test_block_copy_miscounted_block_fails_verify(spark, tmp_path, delta):
    """A null-codec block whose header count is one off its payload has no
    checksum to catch it and is merged undecoded; the verify's decode of
    the merged output block still finds it (bytes left over, or a read
    past the block's end), so the leaf reports EXCEPTION and the target
    is rolled back."""
    from spark_dba_spark.sources import avro_codec as ac

    src, tgt = tmp_path / "src", tmp_path / "tgt"
    src.mkdir()
    for f in range(4):
        recs = [{"id": f * 10 + i, "name": "x"} for i in range(3)]
        data = bytearray(ac.write_container(recs, AVRO_SCHEMA, codec="null"))
        if f == 1:
            body = ac.read_header(bytes(data))[3]
            assert data[body] == 2 * 3  # zigzag varint of the count 3
            data[body] = 2 * (3 + delta)
        (src / f"part_{f}.avro").write_bytes(bytes(data))
    res = compact(spark, CompactionParams(
        source=str(src), target=str(tgt), file_count=1, fmt="avro"))
    assert res.partitions == {"/": "EXCEPTION"}
    if delta < 0:
        assert "left in a block" in " ".join(res.errors)
    assert not tgt.exists()


def test_stray_output_file_fails_verify(spark, tmp_path, monkeypatch):
    """The verify covers the whole staged folder, not only the files the
    write committed: an extra container that appears there before the
    verify makes the leaf COUNT_MISMATCH, and the direct-written target is
    rolled back."""
    from spark_dba_spark.sources import avro_codec as ac
    from spark_dba_spark.sources import avro_spark as asp

    src, tgt = tmp_path / "src", tmp_path / "tgt"
    write_tiny_avro_leaf(str(src), n_files=4)
    orig = asp.write_avro_folder

    def write_then_stray(df, path, *a, **k):
        n = orig(df, path, *a, **k)
        stray = [{"id": -1 - i, "name": "stray"} for i in range(5)]
        (tmp_path / "tgt" / "stray.avro").write_bytes(
            ac.write_container(stray, AVRO_SCHEMA))
        return n

    monkeypatch.setattr(asp, "write_avro_folder", write_then_stray)
    res = compact(spark, CompactionParams(
        source=str(src), target=str(tgt), file_count=2, fmt="avro"))
    assert res.partitions == {"/": "COUNT_MISMATCH"}, res.errors
    assert not tgt.exists()
