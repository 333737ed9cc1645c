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
    """file_count=2 over six tiny files: the read packs the files into at
    least two bins, so coalesce(2) writes exactly two files."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    expected = write_tiny_avro_leaf(src, n_files=6)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=2, fmt="avro"))
    assert res.success, res.errors
    n_files, got = avro_output(tgt)
    assert n_files == 2
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in expected)


def test_avro_file_count_above_split_count(spark, tmp_path):
    """coalesce cannot grow: asking for more files than there are splits
    writes one file per split (one per tiny input file)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    expected = write_tiny_avro_leaf(src, n_files=3)
    res = compact(spark, CompactionParams(source=src, target=tgt, file_count=5, fmt="avro"))
    assert res.success, res.errors
    n_files, got = avro_output(tgt)
    assert n_files == 3
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in expected)
