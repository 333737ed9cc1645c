"""Avro stack tests: pure-Python container codec (round-trip, schema
resolution), bidirectional interop with the OFFICIAL JVM Avro library
(org.apache.avro via py4j — proves our files are real Avro and we read
foreign ones), distributed Spark read/write, and avro-format compaction
end-to-end including the reference's schema-evolution ladder
(DefragmentAvroFolder.scala:17-20, 83-107)."""

from __future__ import annotations

import collections
import datetime
import json
import io
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_dba_spark.plans.compact import CompactionParams, compact
from spark_dba_spark.sources import avro_codec as ac
from spark_dba_spark.sources import avro_spark as asp
from spark_dba_spark.sources.avro_spark import (
    avro_record_to_struct,
    read_avro_folder,
    struct_to_avro_record,
    write_avro_folder,
)

SCHEMA = {
    "type": "record",
    "name": "Rec",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "price", "type": "double"},
    ],
}

SCHEMA_V2 = {
    "type": "record",
    "name": "Rec",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "price", "type": "double"},
        {"name": "category", "type": "string", "default": "uncat"},
    ],
}


def mkrows(n, start=0):
    return [
        {"id": i, "name": None if i % 3 == 0 else f"n{i}", "price": i * 1.5}
        for i in range(start, start + n)
    ]


# --------------------------------------------------------------------------
# Codec
# --------------------------------------------------------------------------

@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_container_roundtrip(codec):
    rows = mkrows(300)
    data = ac.write_container(rows, SCHEMA, codec=codec, block_records=64)
    assert list(ac.read_container(data)) == rows


def test_rich_types_roundtrip():
    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "f", "type": "float"},
            {"name": "by", "type": "bytes"},
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["A", "B"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 4}},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "mp", "type": {"type": "map", "values": "string"}},
            {"name": "nested", "type": {
                "type": "record", "name": "N",
                "fields": [{"name": "x", "type": "long"}]}},
        ],
    }
    rows = [
        {
            "b": True, "i": -7, "f": 2.5, "by": b"\x00\xff", "e": "B",
            "fx": b"abcd", "d": datetime.date(2024, 6, 1),
            "ts": datetime.datetime(2024, 6, 1, 10, 30, 0, 123456),
            "arr": [1, -2, 3], "mp": {"k": "v"}, "nested": {"x": 9},
        }
    ]
    assert list(ac.read_container(ac.write_container(rows, schema))) == rows


def test_schema_resolution_defaults_drops_promotions():
    rows = mkrows(50)
    data = ac.write_container(rows, SCHEMA)
    reader = {
        "type": "record",
        "name": "Rec",
        "fields": [
            {"name": "id", "type": "double"},  # long → double promotion
            {"name": "price", "type": "double"},  # 'name' dropped
            {"name": "extra", "type": "string", "default": "d"},  # added
        ],
    }
    back = list(ac.read_container(data, reader_schema=reader))
    assert back[4] == {"id": 4.0, "price": 6.0, "extra": "d"}
    assert len(back) == 50


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.one_of(st.none(), st.text(max_size=40)),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        max_size=60,
    )
)
def test_codec_property_roundtrip(tuples):
    rows = [{"id": i, "name": n, "price": p} for i, n, p in tuples]
    data = ac.write_container(rows, SCHEMA, codec="deflate", block_records=7)
    assert list(ac.read_container(data)) == rows


_FIELD_TYPES = ["int", "long", "float", "double", "string", "boolean"]
_PROMOTIONS = {
    "int": ["int", "long", "float", "double"],
    "long": ["long", "float", "double"],
    "float": ["float", "double"],
    "double": ["double"],
    "string": ["string"],
    "boolean": ["boolean"],
}
_DEFAULTS = {"int": 0, "long": 1, "float": 0.5, "double": 2.5,
             "string": "d", "boolean": False}
_VALUES = {
    "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "long": st.integers(min_value=-(2**62), max_value=2**62),
    # float32-exact doubles so the float branch round-trips bit-for-bit
    "float": st.integers(min_value=-1000, max_value=1000).map(lambda v: v / 4.0),
    "double": st.floats(allow_nan=False, allow_infinity=False, width=64),
    "string": st.text(max_size=20),
    "boolean": st.booleans(),
}


@st.composite
def _evolution_case(draw):
    """Random flat writer schema + compatible reader schema (field drops,
    additions-with-default, numeric promotions) + rows."""
    n = draw(st.integers(min_value=1, max_value=6))
    wfields = [
        (f"f{i}", draw(st.sampled_from(_FIELD_TYPES))) for i in range(n)
    ]
    rfields = []
    for name, t in wfields:
        action = draw(st.sampled_from(["keep", "promote", "drop"]))
        if action == "keep":
            rfields.append((name, t))
        elif action == "promote":
            rfields.append((name, draw(st.sampled_from(_PROMOTIONS[t]))))
    n_add = draw(st.integers(min_value=0, max_value=2))
    for j in range(n_add):
        t = draw(st.sampled_from(_FIELD_TYPES))
        rfields.append((f"added{j}", t))
    rows = [
        {name: draw(_VALUES[t]) for name, t in wfields}
        for _ in range(draw(st.integers(min_value=0, max_value=8)))
    ]
    return wfields, rfields, rows


@settings(max_examples=40, deadline=None)
@given(_evolution_case())
def test_schema_resolution_property(case):
    wfields, rfields, rows = case
    writer = {"type": "record", "name": "R",
              "fields": [{"name": n, "type": t} for n, t in wfields]}
    reader = {"type": "record", "name": "R",
              "fields": [
                  {"name": n, "type": t,
                   **({} if any(n == wn for wn, _ in wfields)
                      else {"default": _DEFAULTS[t]})}
                  for n, t in rfields
              ]}
    data = ac.write_container(rows, writer, codec="deflate", block_records=3)
    got = list(ac.read_container(data, reader_schema=reader))
    assert len(got) == len(rows)
    wtypes = dict(wfields)
    for src, out in zip(rows, got):
        assert set(out) == {n for n, _ in rfields}
        for name, rt in rfields:
            if name in wtypes:
                expect = src[name]
                if rt in ("float", "double") and wtypes[name] in (
                    "int", "long", "float"
                ):
                    expect = float(expect)
                assert out[name] == expect, (name, wtypes[name], rt)
            else:
                assert out[name] == _DEFAULTS[rt]


# --------------------------------------------------------------------------
# Interop with the official JVM implementation
# --------------------------------------------------------------------------

@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_jvm_reads_our_files(spark, tmp_path, codec):
    rows = mkrows(120)
    p = str(tmp_path / f"ours_{codec}.avro")
    with open(p, "wb") as f:
        f.write(ac.write_container(rows, SCHEMA, codec=codec, block_records=32))
    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while dfr.hasNext():
        rec = dfr.next()
        name = rec.get("name")
        got.append(
            {"id": rec.get("id"),
             "name": None if name is None else str(name),
             "price": rec.get("price")}
        )
    dfr.close()
    assert got == rows


def test_we_read_jvm_files(spark, tmp_path):
    rows = mkrows(80)
    p = str(tmp_path / "jvm.avro")
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SCHEMA))
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    dfw.create(jschema, jvm.java.io.File(p))
    for r in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        for k, v in r.items():
            rec.put(k, v)
        dfw.append(rec)
    dfw.close()
    assert list(ac.read_container(open(p, "rb").read())) == rows


# --------------------------------------------------------------------------
# Distributed Spark read/write
# --------------------------------------------------------------------------

def test_spark_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"n{i}", i * 1.5) for i in range(400)],
        schema=avro_record_to_struct(SCHEMA),
    )
    out = str(tmp_path / "folder")
    n_files = write_avro_folder(df.repartition(3), out, schema=SCHEMA)
    assert n_files == 3
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 3
    back = read_avro_folder(spark, out, reader_schema=SCHEMA)
    assert collections.Counter(map(tuple, back.collect())) == collections.Counter(
        map(tuple, df.collect())
    )


def test_spark_read_latest_file_schema_ladder(spark, tmp_path):
    """No explicit schema → the newest file's embedded schema wins
    (DefragmentAvroFolder.scala:91-103: 'Latest file will have latest
    schema'); older v1 files resolve against it (evolution)."""
    folder = tmp_path / "evolve"
    folder.mkdir()
    old = folder / "old.avro"
    new = folder / "new.avro"
    old.write_bytes(ac.write_container(mkrows(30), SCHEMA))
    v2rows = [dict(r, category=f"c{r['id'] % 2}") for r in mkrows(20, start=100)]
    new.write_bytes(ac.write_container(v2rows, SCHEMA_V2))
    os.utime(old, (1_700_000_000, 1_700_000_000))
    os.utime(new, (1_800_000_000, 1_800_000_000))

    df = read_avro_folder(spark, str(folder))
    assert df.columns == ["id", "name", "price", "category"]
    got = {r["id"]: r["category"] for r in df.collect()}
    assert got[0] == "uncat"  # v1 row filled from the reader-schema default
    assert got[100] == "c0"
    assert df.count() == 50


def test_struct_schema_mapping_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0, datetime.date(2024, 1, 2),
          datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2], {"k": 3})],
        "id bigint, s string, d double, dt date, ts timestamp, "
        "arr array<bigint>, mp map<string,bigint>",
    )
    avro = struct_to_avro_record(df.schema)
    st2 = avro_record_to_struct(avro)
    assert [f.name for f in st2.fields] == df.columns


def test_spark_avro_date_timestamp_values(spark, tmp_path):
    rows = [(i, datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
             datetime.datetime(2024, 5, 1, 12, 0, 0, 250_000)
             + datetime.timedelta(minutes=i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id bigint, d date, ts timestamp")
    out = str(tmp_path / "dts")
    write_avro_folder(df.coalesce(1), out)
    back = read_avro_folder(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_streaming_avro_ingest(spark, tmp_path):
    """binaryFile stream + codec decode: streaming Avro ingest without
    spark-avro — aggregate over the stream equals the batch read."""
    from spark_dba_spark.sources.avro_spark import read_avro_stream

    folder = tmp_path / "landing"
    folder.mkdir()
    for i in range(3):
        (folder / f"f{i}.avro").write_bytes(
            ac.write_container(mkrows(50, start=i * 100), SCHEMA, codec="snappy")
        )
    stream = read_avro_stream(spark, str(folder), SCHEMA)
    assert stream.isStreaming
    q = (
        stream.groupBy()
        .agg({"id": "sum", "*": "count"})
        .writeStream.format("memory")
        .queryName("avro_ingest")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table("avro_ingest").collect()[0]
    batch = read_avro_folder(spark, str(folder), reader_schema=SCHEMA)
    assert row["count(1)"] == batch.count() == 150
    assert row["sum(id)"] == batch.agg({"id": "sum"}).collect()[0][0]


def test_streaming_avro_block_splits(spark, tmp_path, monkeypatch):
    """One huge landed multi-block file decodes as MULTIPLE tasks inside a
    micro-batch (VERDICT r3 #7): stream==batch on values, and the decode
    stage of the micro-batch runs >1 task for a single file (observed via
    a partition-id bitmask accumulator inside `_decode_split` — the
    foreachBatch DataFrame is a pre-materialized ExistingRDD, so
    spark_partition_id() downstream can't see the decode stage)."""
    folder = tmp_path / "landing"
    folder.mkdir()
    rows = mkrows(4000)
    # many small blocks so a small split_bytes yields many ranges
    (folder / "huge.avro").write_bytes(
        ac.write_container(rows, SCHEMA, codec="snappy", block_records=100)
    )
    size = (folder / "huge.avro").stat().st_size

    acc = spark.sparkContext.accumulator(0)
    orig = asp._decode_split

    def spy(*a, **kw):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None:
            acc.add(1 << ctx.partitionId())
        return orig(*a, **kw)

    monkeypatch.setattr(asp, "_decode_split", spy)
    stream = asp.read_avro_stream(
        spark, str(folder), SCHEMA, split_bytes=size // 6
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("avro_split_ingest")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_tasks = bin(acc.value).count("1")
    assert n_tasks > 1, f"single file decoded by {n_tasks} task(s)"
    # values identical to the batch reader
    batch = read_avro_folder(spark, str(folder), reader_schema=SCHEMA)
    got = collections.Counter(
        map(tuple, spark.table("avro_split_ingest").collect())
    )
    assert got == collections.Counter(map(tuple, batch.collect()))


# --------------------------------------------------------------------------
# Avro compaction end-to-end (reference parity)
# --------------------------------------------------------------------------

def write_small_avro_files(folder: str, n_files=4, rows_per_file=25, start=0,
                           schema=SCHEMA, extra=None):
    os.makedirs(folder, exist_ok=True)
    rows = []
    for f in range(n_files):
        chunk = mkrows(rows_per_file, start=start + f * rows_per_file)
        if extra:
            chunk = [dict(r, **extra(r)) for r in chunk]
        with open(f"{folder}/part_{f}.avro", "wb") as fh:
            fh.write(ac.write_container(chunk, schema, codec="snappy"))
        rows += chunk
    open(f"{folder}/_SUCCESS", "w").close()
    return rows


def avro_files(folder: str) -> list[str]:
    out = []
    for root, _d, files in os.walk(folder):
        out += [os.path.join(root, f) for f in files
                if f.endswith(".avro") and not f.startswith((".", "_"))]
    return out


def test_avro_compaction_preserves_records(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    expected = write_small_avro_files(src, n_files=5)
    res = compact(
        spark, CompactionParams(source=src, target=tgt, file_count=2, fmt="avro")
    )
    assert res.success, res.errors
    assert res.partitions == {"/": "SUCCESS"}
    assert len(avro_files(tgt)) == 2
    got = [r for p in avro_files(tgt) for r in ac.read_container(open(p, "rb").read())]
    assert collections.Counter(map(repr, got)) == collections.Counter(
        map(repr, expected)
    )
    assert os.path.exists(f"{tgt}/.defraglog")


def test_avro_compaction_partitioned_overwrite_trash(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    tmpf, trash = str(tmp_path / "tmpf"), str(tmp_path / "trash")
    os.makedirs(tmpf), os.makedirs(trash)
    exp_a = write_small_avro_files(f"{src}/dt=a", n_files=3)
    exp_b = write_small_avro_files(f"{src}/dt=b", n_files=3, start=500)
    # pre-existing target content that must land in trash
    write_small_avro_files(f"{tgt}/dt=a", n_files=2, start=9000)
    res = compact(spark, CompactionParams(
        source=src, target=tgt, file_count=1, fmt="avro",
        overwrite=True, tmp_folder=tmpf, trash_folder=trash,
    ))
    assert res.success, res.errors
    assert res.partitions == {"/dt=a": "SUCCESS", "/dt=b": "SUCCESS"}
    got_a = [r for p in avro_files(f"{tgt}/dt=a")
             for r in ac.read_container(open(p, "rb").read())]
    got_b = [r for p in avro_files(f"{tgt}/dt=b")
             for r in ac.read_container(open(p, "rb").read())]
    assert collections.Counter(map(repr, got_a)) == collections.Counter(map(repr, exp_a))
    assert collections.Counter(map(repr, got_b)) == collections.Counter(map(repr, exp_b))
    # trash holds the displaced partition
    trashed = avro_files(trash)
    assert trashed and all("dt=a" in p for p in trashed)


def test_avro_compaction_schema_evolution(spark, tmp_path):
    """The §1.3 ladder end-to-end: folder mixes v1 and v2 files; an explicit
    .avsc reader schema (the reference's --avroSchema) merges them into
    output files that all carry the new schema (README.md:10,16)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    v1 = write_small_avro_files(src, n_files=2)  # v1: no category
    os.rename(f"{src}/part_0.avro", f"{src}/v1_0.avro")
    os.rename(f"{src}/part_1.avro", f"{src}/v1_1.avro")
    v2 = write_small_avro_files(
        src, n_files=2, start=200, schema=SCHEMA_V2,
        extra=lambda r: {"category": f"c{r['id'] % 3}"},
    )
    avsc = tmp_path / "reader.avsc"
    avsc.write_text(json.dumps(SCHEMA_V2))
    res = compact(spark, CompactionParams(
        source=src, target=tgt, file_count=1, fmt="avro",
        schema_file=str(avsc),
    ))
    assert res.success, res.errors
    got = [r for p in avro_files(tgt) for r in ac.read_container(open(p, "rb").read())]
    assert len(got) == len(v1) + len(v2)
    # every output record carries the v2 schema; v1 rows got the default
    assert all("category" in r for r in got)
    by_id = {r["id"]: r for r in got}
    assert by_id[0]["category"] == "uncat"
    assert by_id[200]["category"] == "c2"
    # and the output files' embedded schema is the reader schema
    out_schema = ac.schema_of_file(avro_files(tgt)[0])
    assert [f["name"] for f in out_schema["fields"]] == [
        f["name"] for f in SCHEMA_V2["fields"]
    ]


def test_avro_compaction_dynamic_sizing(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_small_avro_files(src, n_files=6, rows_per_file=50)
    total = sum(os.path.getsize(p) for p in avro_files(src))
    res = compact(spark, CompactionParams(
        source=src, target=tgt, fmt="avro",
        target_file_bytes=max(1, total // 3),
    ))
    assert res.success, res.errors
    assert 2 <= len(avro_files(tgt)) <= 4


def test_timestamp_ntz_roundtrip(spark, tmp_path):
    """TimestampNTZType (the repo's canonical event-time type) maps to avro
    local-timestamp-micros and round-trips exactly — regression for the
    round-2 review finding."""
    import datetime as dt

    rows = [(i, dt.datetime(2024, 7, 1, 8, 30, i, 123456)) for i in range(20)]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp_ntz")
    out = str(tmp_path / "ntz")
    write_avro_folder(df.coalesce(1), out)
    # embedded schema carries the local-timestamp logical type
    emb = ac.schema_of_file(avro_files(out)[0])
    ts_field = [f for f in emb["fields"] if f["name"] == "ts"][0]
    t = ts_field["type"]
    if isinstance(t, list):  # nullable → ["null", {...}]
        t = [b for b in t if b != "null"][0]
    assert t["logicalType"] == "local-timestamp-micros"
    back = read_avro_folder(spark, out)
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_write_avro_modes(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id bigint")
    out = str(tmp_path / "m")
    write_avro_folder(df.coalesce(1), out)
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        write_avro_folder(df.coalesce(1), out, mode="error")
    write_avro_folder(df.coalesce(1), out, mode="append")
    assert read_avro_folder(spark, out, reader_schema=None).count() == 2
    write_avro_folder(df.coalesce(1), out, mode="overwrite")
    assert read_avro_folder(spark, out, reader_schema=None).count() == 1


def test_events_fixture_roundtrip_through_avro(spark, tmp_path):
    """The real events table (timestamp_ntz, JSON strings, 10k rows at
    sf0.01) through the avro sink and back — value-identical."""
    from spark_dba_spark import catalog

    ev = catalog.load(spark, "/root/testdata/sf0.01", "events")
    out = str(tmp_path / "ev_avro")
    n_files = write_avro_folder(ev.repartition(4), out)
    assert n_files == 4
    back = read_avro_folder(spark, out)
    assert back.count() == ev.count() == 10000
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_corrupt_sync_marker_detected():
    rows = mkrows(50)
    data = bytearray(ac.write_container(rows, SCHEMA, block_records=10))
    data[-8] ^= 0xFF  # flip a byte inside the final sync marker
    with pytest.raises(ValueError, match="sync marker"):
        list(ac.read_container(bytes(data)))

# --------------------------------------------------------------------------
# Codec robustness (round-3 hardening)
# --------------------------------------------------------------------------

def test_truncated_varint_raises_eoferror():
    # A lone continuation byte at the end of the stream must raise EOFError,
    # not IndexError.
    r = ac._Reader(b"\x80")
    with pytest.raises(EOFError, match="truncated varint"):
        r.read_long()


def test_overlong_varint_rejected():
    # 11 continuation bytes can't encode an int64 — bounded, explicit error.
    r = ac._Reader(b"\x80" * 11 + b"\x01")
    with pytest.raises(ValueError, match="varint too long"):
        r.read_long()


def test_timestamp_micros_exact_far_future():
    # Exact integer path: float64 µs arithmetic loses ±1µs past ~2100.
    ts = datetime.datetime(2200, 6, 15, 12, 34, 56, 789123)
    sch = {"type": "long", "logicalType": "timestamp-micros"}
    micros = ac._encode_logical(sch, ts)
    td = ts - datetime.datetime(1970, 1, 1)
    assert micros == td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds
    # and the codec round-trips it bit-exactly
    rec_schema = {
        "type": "record",
        "name": "T",
        "fields": [{"name": "ts", "type": sch}],
    }
    data = ac.write_container([{"ts": ts}], rec_schema)
    assert list(ac.read_container(data)) == [{"ts": ts}]


def test_timestamp_micros_aware_converts_to_utc():
    # timestamp-micros is an instant: +05:00 offset must be converted, not
    # silently dropped.
    tz = datetime.timezone(datetime.timedelta(hours=5))
    aware = datetime.datetime(2024, 1, 1, 10, 0, 0, tzinfo=tz)
    sch = {"type": "long", "logicalType": "timestamp-micros"}
    micros = ac._encode_logical(sch, aware)
    utc_naive = datetime.datetime(2024, 1, 1, 5, 0, 0)
    td = utc_naive - datetime.datetime(1970, 1, 1)
    assert micros == td.days * 86_400_000_000 + td.seconds * 1_000_000
    # local-timestamp-micros is wall-clock: offset dropped by definition
    lsch = {"type": "long", "logicalType": "local-timestamp-micros"}
    lmicros = ac._encode_logical(lsch, aware)
    wall = datetime.datetime(2024, 1, 1, 10, 0, 0)
    ltd = wall - datetime.datetime(1970, 1, 1)
    assert lmicros == ltd.days * 86_400_000_000 + ltd.seconds * 1_000_000


def test_append_failure_leaves_block_buffer_clean():
    # An encode error mid-record must not leave partial bytes behind: the
    # next flush must still produce a consistent container.
    import io

    out = io.BytesIO()
    w = ac.ContainerWriter(out, SCHEMA, block_records=100)
    w.append({"id": 1, "name": "a", "price": 1.0})
    with pytest.raises(Exception):
        w.append({"id": "not-an-int", "name": "b", "price": 2.0})
    w.append({"id": 3, "name": "c", "price": 3.0})
    w.close()
    rows = list(ac.read_container(out.getvalue()))
    assert rows == [
        {"id": 1, "name": "a", "price": 1.0},
        {"id": 3, "name": "c", "price": 3.0},
    ]


# --------------------------------------------------------------------------
# Round 3: pyarrow.fs sink dispatch, block-split reads, commit protocol
# --------------------------------------------------------------------------

def test_fs_scheme_dispatch_write_read(spark, tmp_path):
    """The avro sink/scan work on a NON-file:// scheme: a test scheme
    backed by pyarrow SubTreeFileSystem proves the dispatch path the
    reference gets from the Hadoop FileSystem API
    (DefragmentAvroFolder.scala:298)."""
    import pyarrow.fs as pafs

    from spark_dba_spark.sources import avro_spark as asp
    from spark_dba_spark.sources import fsops

    backing = tmp_path / "backing"
    backing.mkdir()

    def factory(uri):
        rel = uri.split("://", 1)[1]
        return pafs.SubTreeFileSystem(str(backing), pafs.LocalFileSystem()), rel

    asp.register_fs_scheme("testfs", factory)
    try:
        df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id bigint, v string")
        n = write_avro_folder(df.repartition(3), "testfs://data/out")
        assert n == 3
        # files exist only inside the backing tree, written via the scheme
        real = sorted(p.name for p in (backing / "data" / "out").glob("*.avro"))
        assert len(real) == 3 and all(p.startswith("part-") for p in real)
        back = read_avro_folder(spark, "testfs://data/out")
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    finally:
        fsops._FS_SCHEMES.pop("testfs", None)


def test_block_split_read_multiple_tasks(spark, tmp_path):
    """A multi-block container read as >1 input split returns identical
    rows, with per-task memory bounded by block, not file (VERDICT r2 #2:
    reference's splittable AvroKeyInputFormat)."""
    import glob

    rows = mkrows(5000)
    out = tmp_path / "big"
    out.mkdir()
    # many small blocks → lots of sync-marker boundaries to split on
    data = ac.write_container(rows, SCHEMA, codec="deflate", block_records=50)
    (out / "one.avro").write_bytes(data)
    size = len(data)
    assert size > 4096

    df = read_avro_folder(spark, str(out), reader_schema=SCHEMA, split_bytes=size // 7)
    # planned as multiple splits -> multiple rdd partitions
    assert df.rdd.getNumPartitions() >= 7
    got = sorted(df.collect(), key=lambda r: r["id"])
    assert len(got) == 5000
    assert [r["id"] for r in got] == [r["id"] for r in rows]
    assert got[1]["name"] == rows[1]["name"]

    # degenerate split sizes still see every record exactly once
    for div in (2, 13):
        d2 = read_avro_folder(
            spark, str(out), reader_schema=SCHEMA, split_bytes=max(1, size // div)
        )
        assert d2.count() == 5000
        assert d2.select("id").distinct().count() == 5000


def _tiny_folder(folder, n_files, rows_per_file=10):
    folder.mkdir()
    for f in range(n_files):
        rows = mkrows(rows_per_file, start=f * rows_per_file)
        (folder / f"f{f:02d}.avro").write_bytes(ac.write_container(rows, SCHEMA))
    return n_files * rows_per_file


def test_read_plans_splits_on_the_jvm(spark, tmp_path):
    """The split table is a JVM LocalRelation: no Python stage plans it."""
    _tiny_folder(tmp_path / "t", 4)
    df = read_avro_folder(spark, str(tmp_path / "t"), reader_schema=SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def test_tiny_files_pack_into_few_partitions(spark, tmp_path):
    n = _tiny_folder(tmp_path / "t", 12)
    df = read_avro_folder(spark, str(tmp_path / "t"), reader_schema=SCHEMA)
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert df.count() == n

    df3 = read_avro_folder(
        spark, str(tmp_path / "t"), reader_schema=SCHEMA, partitions=3
    )
    assert df3.rdd.getNumPartitions() == 3
    ids = [r["id"] for r in df3.collect()]
    assert sorted(ids) == list(range(n))


def test_plan_bins_balances_bytes():
    """Largest-first into the least-loaded bin; every split lands once;
    an explicit bin count holds, capped at the number of splits."""
    import types

    files = [
        types.SimpleNamespace(path=f"/d/f{i}", size=s)
        for i, s in enumerate([900, 500, 400, 300, 200, 100, 100])
    ]
    bins = asp._plan_bins(files, 1 << 20, 1000, 4, partitions=3)
    assert len(bins) == 3
    assert sorted(sp for b in bins for sp in b) == sorted(
        (f.path, 0, f.size) for f in files
    )
    loads = sorted(sum(hi - lo for _, lo, hi in b) for b in bins)
    assert loads == [800, 800, 900]
    assert len(asp._plan_bins(files, 1 << 20, 1000, 4, partitions=50)) == 7
    # one file larger than the split size is cut into ranges
    big = [types.SimpleNamespace(path="/d/big", size=10_000)]
    bins = asp._plan_bins(big, 3000, 1000, 4)
    assert [b[0][1:] for b in bins] == [(0, 2500), (2500, 5000), (5000, 7500), (7500, 10000)]


def test_block_count_must_match_payload():
    """A block header count one below what the payload holds raises
    instead of silently dropping the last record; one above runs off the
    block's end."""
    recs = [{"id": i} for i in range(3)]
    schema = {"type": "record", "name": "R", "fields": [{"name": "id", "type": "long"}]}
    data = bytearray(ac.write_container(recs, schema))
    body = ac.read_header(bytes(data))[3]
    assert data[body] == 6  # zigzag varint of the count 3
    data[body] = 4
    with pytest.raises(ValueError, match="left in a block"):
        list(ac.read_container(bytes(data)))
    data[body] = 8
    with pytest.raises(EOFError):
        list(ac.read_container(bytes(data)))
    # the block copy skips a zero-count block, but not one holding bytes
    raw = ac._decompress("null", bytes(data[body + 2:-16]))
    with pytest.raises(ValueError, match="left in a block"):
        asp._write_blocks(
            iter([(schema, "null", 0, raw)]), None, "unused", schema, "null",
            10, None,
        )


def test_parsing_canonical_form():
    """Docs, defaults, aliases and logical types drop out; names become
    full names; field order, names and types still count."""
    a = {
        "type": "record", "name": "Rec", "namespace": "x", "doc": "d",
        "fields": [
            {"name": "id", "type": {"type": "long", "logicalType": "timestamp-micros"},
             "default": 0, "aliases": ["key"]},
            {"name": "e", "type": ["null", {"type": "enum", "name": "E", "symbols": ["A"]}]},
            {"name": "m", "type": {"type": "map", "values": "E"}},
        ],
    }
    b = {
        "type": "record", "name": "x.Rec",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "e", "type": ["null", {"type": "enum", "name": "x.E", "symbols": ["A"]}]},
            {"name": "m", "type": {"type": "map", "values": "x.E"}},
        ],
    }
    pcf = ac.parsing_canonical_form
    assert pcf(a) == pcf(b) == pcf(json.dumps(a))
    assert pcf({"type": "int"}) == pcf("int") == "\"int\""
    assert pcf(SCHEMA) != pcf(SCHEMA_V2)
    swapped = dict(SCHEMA, fields=SCHEMA["fields"][::-1])
    assert pcf(swapped) != pcf(SCHEMA)
    assert pcf(dict(SCHEMA, name="Other")) != pcf(SCHEMA)


def test_only_untransformed_reads_carry_a_block_scan(spark, tmp_path):
    """The block-copy plan rides on the frame the reader returns and on
    nothing derived from it; hive-partitioned reads carry none."""
    _tiny_folder(tmp_path / "t", 3)
    df = read_avro_folder(spark, str(tmp_path / "t"), reader_schema=SCHEMA)
    assert asp.has_block_scan(df)
    assert not asp.has_block_scan(df.filter("id > 3"))
    assert not asp.has_block_scan(df.select("id", "name", "price"))
    (tmp_path / "h").mkdir()
    _tiny_folder(tmp_path / "h" / "k=1", 2)
    assert not asp.has_block_scan(read_avro_folder(spark, str(tmp_path / "h")))
    # a transformed frame, or another output schema, takes the record path
    out = tmp_path / "out"
    stats: dict = {}
    assert write_avro_folder(df.filter("id >= 10"), str(out), stats=stats) >= 1
    assert stats == {"records": 20}
    back = read_avro_folder(spark, str(out)).collect()
    assert sorted(r["id"] for r in back) == list(range(10, 30))


def test_write_commit_protocol(spark, tmp_path):
    """Tasks write attempt-unique hidden temps and rename on success; a
    failing job leaves NO visible .avro files; the driver sweeps this
    run's temps after success (ADVICE r2 medium)."""
    out = tmp_path / "commit"
    df = spark.createDataFrame([(i,) for i in range(10)], "id bigint")
    write_avro_folder(df.repartition(2), str(out))
    names = sorted(p.name for p in out.glob("*"))
    assert len([n for n in names if n.endswith(".avro") and n.startswith("part-")]) == 2
    assert not [n for n in names if n.startswith("_tmp-")]

    # a job whose tasks fail mid-encode must not commit any visible file
    bad_schema = {
        "type": "record",
        "name": "Rec",
        "fields": [{"name": "id", "type": "null"}],  # non-null value → error
    }
    out2 = tmp_path / "aborted"
    with pytest.raises(Exception):
        write_avro_folder(df.repartition(2), str(out2), schema=bad_schema)
    visible = [
        p.name
        for p in out2.glob("*")
        if not (p.name.startswith("_") or p.name.startswith("."))
    ] if out2.exists() else []
    assert visible == []


def test_block_split_boundary_in_header_keeps_first_block(spark, tmp_path):
    """A split boundary landing at or inside the container header must not
    drop the first data block (code-review r3: the header-covering split
    owns the first body block directly)."""
    rows = mkrows(200)
    out = tmp_path / "hdr"
    out.mkdir()
    data = ac.write_container(rows, SCHEMA, codec="null", block_records=10)
    (out / "one.avro").write_bytes(data)
    _, _, _, body_pos = ac.read_header(data)

    # boundaries straddling every offset around the header end, plus inside
    for sb in (body_pos - 5, body_pos, body_pos + 1, 64, 16):
        if sb <= 0:
            continue
        df = read_avro_folder(
            spark, str(out), reader_schema=SCHEMA, split_bytes=sb
        )
        assert df.count() == 200, f"split_bytes={sb} lost rows"
        assert df.select("id").distinct().count() == 200


def test_read_empty_folder_with_schema_returns_empty_df(spark, tmp_path):
    """An existing folder with zero .avro files + an explicit reader schema
    is a valid empty relation (pre-block-split behavior), not an error."""
    out = tmp_path / "empty"
    out.mkdir()
    df = read_avro_folder(spark, str(out), reader_schema=SCHEMA)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "name", "price"]


def test_read_falls_back_to_binaryfile_for_unreachable_scheme(
    spark, tmp_path, monkeypatch
):
    """Schemes pyarrow can't drive (wasbs://, hdfs:// sans libhdfs) fall
    back to the whole-file binaryFile decode path, which reaches any
    Hadoop filesystem (code-review r3: read-path scheme regression)."""
    rows = mkrows(50)
    out = tmp_path / "fb"
    out.mkdir()
    (out / "one.avro").write_bytes(ac.write_container(rows, SCHEMA))

    def no_fs(path):
        raise ValueError(f"pyarrow has no filesystem for {path!r}")

    monkeypatch.setattr(asp, "resolve_fs", no_fs)
    df = asp.read_avro_folder(spark, str(out), reader_schema=SCHEMA)
    assert df.count() == 50
    # schema probing also works through the Hadoop path
    df2 = asp.read_avro_folder(spark, str(out))
    assert df2.count() == 50


@settings(max_examples=25, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=300),
    block_records=st.integers(min_value=1, max_value=64),
    n_splits=st.integers(min_value=1, max_value=12),
)
def test_split_plan_covers_every_block_exactly_once(
    tmp_path_factory, n_rows, block_records, n_splits
):
    """PROPERTY: any split partitioning of a container decodes every row
    exactly once — no boundary placement may lose or duplicate a block
    (the r3 header-boundary bug class). Drives _decode_split directly
    (no Spark session) over a pyarrow LocalFileSystem."""
    import math as _math

    import pyarrow.fs as pafs

    rows = mkrows(n_rows)
    data = ac.write_container(rows, SCHEMA, codec="null",
                              block_records=block_records)
    d = tmp_path_factory.mktemp("prop")
    fp = d / "c.avro"
    fp.write_bytes(data)

    rs = ac.parse_schema(SCHEMA)
    cols = ["id", "name", "price"]
    size = len(data)
    step = max(1, _math.ceil(size / n_splits))
    got = []
    for k in range(n_splits):
        lo, hi = k * step, min((k + 1) * step, size)
        if lo >= hi:
            continue
        for pdf in asp._decode_split(
            pafs.LocalFileSystem(), str(fp), lo, hi, rs, cols
        ):
            got.extend(pdf.to_dict("records"))
    assert sorted(r["id"] for r in got) == [r["id"] for r in rows]


def test_block_bytes_flush_bounds_block_size():
    """Wide records flush blocks by BYTES before the record-count boundary,
    so one block (= one reader task's memory) stays bounded."""
    wide = [{"id": i, "name": "x" * 10_000, "price": 1.0} for i in range(100)]
    out = io.BytesIO()
    w = ac.ContainerWriter(out, SCHEMA, block_records=4096, block_bytes=50_000)
    for r in wide:
        w.append(r)
    w.close()
    data = out.getvalue()
    # every block's decompressed payload obeys the byte bound (+1 record)
    _, codec, sync, pos = ac.read_header(data)
    n_blocks = 0
    while pos < len(data):
        rd = ac._Reader(data[pos:pos + 32])
        n_rec = rd.read_long()
        blen = rd.read_long()
        assert blen <= 50_000 + 11_000, "block exceeded byte bound"
        pos += rd.pos + blen + 16
        n_blocks += 1
    assert n_blocks >= 15  # 100 × ~10KB records / 50KB bound
    assert list(ac.read_container(data)) == wide


# --------------------------------------------------------------------------
# Multi-branch unions (union[A,B,...] → struct<tag, member0..memberN>)
# --------------------------------------------------------------------------

UNION_SCHEMA = {
    "type": "record",
    "name": "URec",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "u2", "type": ["int", "string"]},
        {
            "name": "u3",
            "type": ["null", "long", "string", "boolean"],
            "default": None,
        },
    ],
}


def _union_rows(n=60):
    rows = []
    for i in range(n):
        u2 = i if i % 2 == 0 else f"s{i}"
        u3 = [None, i * 10, f"t{i}", i % 4 == 3][i % 4]
        rows.append({"id": i, "u2": u2, "u3": u3})
    return rows


def test_union_schema_maps_to_tagged_struct():
    st = avro_record_to_struct(UNION_SCHEMA)
    u2 = st["u2"].dataType
    assert [f.name for f in u2.fields] == ["tag", "member0", "member1"]
    assert u2["member0"].dataType.simpleString() == "int"
    assert u2["member1"].dataType.simpleString() == "string"
    u3 = st["u3"].dataType
    assert [f.name for f in u3.fields] == ["tag", "member0", "member1", "member2"]
    assert st["u3"].nullable  # null branch → nullable struct


def test_union_read_decodes_tagged_structs(spark, tmp_path):
    folder = tmp_path / "u"
    folder.mkdir()
    rows = _union_rows()
    (folder / "a.avro").write_bytes(ac.write_container(rows, UNION_SCHEMA))
    df = read_avro_folder(spark, str(folder), reader_schema=UNION_SCHEMA)
    got = {r["id"]: r for r in df.collect()}
    assert len(got) == len(rows)
    for r in rows:
        g = got[r["id"]]
        if isinstance(r["u2"], int):
            assert (g["u2"]["tag"], g["u2"]["member0"]) == (0, r["u2"])
            assert g["u2"]["member1"] is None
        else:
            assert (g["u2"]["tag"], g["u2"]["member1"]) == (1, r["u2"])
        if r["u3"] is None:
            assert g["u3"] is None
        else:
            tag = g["u3"]["tag"]
            assert g["u3"][f"member{tag}"] == r["u3"]


def test_union_write_roundtrip_bit_exact(spark, tmp_path):
    """read → tagged structs → write with the same union schema → the
    re-encoded records equal the originals value-for-value AND branch-for-
    branch (TaggedUnion carries the branch index through the codec)."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    rows = _union_rows()
    (src / "a.avro").write_bytes(ac.write_container(rows, UNION_SCHEMA))
    df = read_avro_folder(spark, str(src), reader_schema=UNION_SCHEMA)
    write_avro_folder(df.coalesce(1), str(out), schema=UNION_SCHEMA)
    back = [
        r
        for p in sorted(out.glob("*.avro"))
        for r in ac.read_container(p.read_bytes())
    ]
    assert collections.Counter(map(repr, back)) == collections.Counter(
        map(repr, rows)
    )


def test_union_compaction_preserves_values(spark, tmp_path):
    """A folder whose schema carries true unions compacts through the
    DataFrame path with values preserved exactly (VERDICT r3 'What's
    missing' #2 — the reference passes unions through untouched,
    DefragmentAvroFolder.scala:267-272)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    os.makedirs(src)
    rows = _union_rows(100)
    for k in range(4):
        chunk = rows[k * 25:(k + 1) * 25]
        with open(f"{src}/f{k}.avro", "wb") as fh:
            fh.write(ac.write_container(chunk, UNION_SCHEMA, codec="snappy"))
    res = compact(
        spark, CompactionParams(source=src, target=tgt, file_count=2, fmt="avro")
    )
    assert res.success, res.errors
    got = [
        r for p in avro_files(tgt) for r in ac.read_container(open(p, "rb").read())
    ]
    assert collections.Counter(map(repr, got)) == collections.Counter(
        map(repr, rows)
    )


def test_union_tag_disambiguates_overlapping_branches():
    """["long","double"]: a long 5 and a double 5.0 have different binary
    encodings; the tag keeps each on its writer branch (value-first-match
    would send the long down the double branch if double came first)."""
    schema = {
        "type": "record",
        "name": "LD",
        "fields": [{"name": "v", "type": ["double", "long"]}],
    }
    # the external producer pins the long branch explicitly (value-first-
    # match — ours and the official python avro lib's default — would send
    # a bare 9 down the double branch)
    data = ac.write_container(
        [{"v": ac.TaggedUnion(0, 5.0)}, {"v": ac.TaggedUnion(1, 9)}], schema
    )
    rows = [{"v": 5.0}, {"v": 9}]
    back = list(ac.read_container(data))
    # python types prove the branch: float for double branch, int for long
    assert isinstance(back[0]["v"], float) and isinstance(back[1]["v"], int)
    conv = asp._decoded_converter(schema)
    dec = [conv(dict(r)) for r in back]
    assert dec[0]["v"] == {"tag": 0, "member0": 5.0, "member1": None}
    assert dec[1]["v"] == {"tag": 1, "member0": None, "member1": 9}
    enc = asp._encode_converter(schema)
    redata = ac.write_container([enc(d) for d in dec], schema)
    assert list(ac.read_container(redata)) == rows
    assert isinstance(list(ac.read_container(redata))[1]["v"], int)


def test_ambiguous_union_rejected():
    schema = {
        "type": "record",
        "name": "FD",
        "fields": [{"name": "v", "type": ["float", "double"]}],
    }
    with pytest.raises(NotImplementedError, match="distinct value classes"):
        asp._decoded_converter(schema)


# --------------------------------------------------------------------------
# Hive-partitioned avro sink + partition discovery on read
# --------------------------------------------------------------------------

def test_partitioned_avro_write_roundtrip(spark, tmp_path):
    """write_folder(fmt='avro', partition_by=['k']) → hive k=v layout that
    read_avro_folder round-trips, partition values re-attached from the
    path with Spark-style type inference (VERDICT r3 #8)."""
    from spark_dba_spark.sources.readers import write_folder

    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3, ["a", "b", None][i % 3]) for i in range(300)],
        "id bigint, name string, bucket bigint, tag string",
    )
    out = str(tmp_path / "hive")
    write_folder(
        df.repartition(2, "bucket", "tag"), out, fmt="avro", mode="append",
        partition_by=["bucket", "tag"],
    )
    # layout: bucket=N/tag=V dirs (null → hive default marker)
    leaves = sorted(
        str(p.relative_to(out)) for p in (tmp_path / "hive").rglob("*.avro")
    )
    assert all(l.startswith("bucket=") and "/tag=" in l for l in leaves), leaves
    assert any("__HIVE_DEFAULT_PARTITION__" in l for l in leaves)
    back = read_avro_folder(spark, out)
    # partition cols re-attached: bucket inferred long, tag string w/ null
    assert dict(back.dtypes)["bucket"] == "bigint"
    assert dict(back.dtypes)["tag"] == "string"
    got = collections.Counter(
        (r["id"], r["name"], r["bucket"], r["tag"]) for r in back.collect()
    )
    want = collections.Counter(
        (r["id"], r["name"], r["bucket"], r["tag"]) for r in df.collect()
    )
    assert got == want


def test_partitioned_avro_write_modes(spark, tmp_path):
    from spark_dba_spark.sources.avro_spark import write_avro_folder

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, k string")
    out = str(tmp_path / "m")
    write_avro_folder(df, out, partition_by=["k"])
    with pytest.raises(FileExistsError):
        write_avro_folder(df, out, partition_by=["k"], mode="error")
    write_avro_folder(df, out, partition_by=["k"], mode="overwrite")
    back = read_avro_folder(spark, out)
    assert sorted((r["id"], r["k"]) for r in back.collect()) == [(1, "a"), (2, "b")]


# --------------------------------------------------------------------------
# Union mapping property test: random union-bearing schemas round-trip
# --------------------------------------------------------------------------

_U_BRANCH_POOL = [
    "int", "long", "double", "string", "boolean", "bytes",
    {"type": "array", "items": "long"},
    {"type": "map", "values": "string"},
    {"type": "record", "name": "Inner",
     "fields": [{"name": "x", "type": "long"}]},
]
_U_CLASS = {"int": "i", "long": "i", "double": "f", "string": "str",
            "boolean": "bool", "bytes": "bytes"}


def _u_class(b):
    if isinstance(b, dict):
        return b["type"]
    return _U_CLASS[b]


_U_VALUES = {
    "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "long": st.integers(min_value=-(2**62), max_value=2**62),
    "double": st.floats(allow_nan=False, allow_infinity=False, width=64),
    "string": st.text(max_size=12),
    "boolean": st.booleans(),
    "bytes": st.binary(max_size=12),
    "array": st.lists(st.integers(min_value=-100, max_value=100), max_size=4),
    "map": st.dictionaries(st.text(min_size=1, max_size=4),
                           st.text(max_size=4), max_size=3),
    "record": st.integers(min_value=-100, max_value=100).map(
        lambda x: {"x": x}),
}


@st.composite
def _union_case(draw):
    # 2-4 branches with pairwise-distinct value classes (the supported
    # surface; ambiguous unions are rejected by construction)
    pool = list(_U_BRANCH_POOL)
    branches, classes = [], set()
    n = draw(st.integers(min_value=2, max_value=4))
    while len(branches) < n and pool:
        b = draw(st.sampled_from(pool))
        pool.remove(b)
        c = _u_class(b)
        # rec/map are both dicts in python — mutually exclusive
        amb = {"record": "map", "map": "record"}.get(c)
        if c in classes or (amb and amb in classes):
            continue
        branches.append(b)
        classes.add(c)
    nullable = draw(st.booleans())
    union = (["null"] if nullable else []) + branches
    rows = []
    for _ in range(draw(st.integers(min_value=0, max_value=8))):
        if nullable and draw(st.booleans()):
            rows.append({"u": None})
        else:
            i = draw(st.integers(min_value=0, max_value=len(branches) - 1))
            b = branches[i]
            t = b["type"] if isinstance(b, dict) else b
            rows.append({"u": ac.TaggedUnion(i + (1 if nullable else 0),
                                             draw(_U_VALUES[t]))})
    return union, rows


@settings(max_examples=30, deadline=None)
@given(_union_case())
def test_union_mapping_property(case):
    """decode(conv) → encode(conv) is the identity on values AND branch
    indices for any supported (class-distinct) union, nullable or not."""
    union, rows = case
    schema = {"type": "record", "name": "P",
              "fields": [{"name": "u", "type": union}]}
    data = ac.write_container(rows, schema)
    plain = list(ac.read_container(data))
    dec = asp._decoded_converter(schema)
    enc = asp._encode_converter(schema)
    assert (dec is None) == (enc is None)
    if dec is None:
        return  # [null, T] single-branch — transparent mapping
    tagged = [dec(dict(r)) for r in plain]
    # tags match what the producer wrote
    for row, t in zip(rows, tagged):
        if row["u"] is None:
            assert t["u"] is None
        else:
            n_null = 1 if "null" in union else 0
            assert t["u"]["tag"] == row["u"].tag - n_null
    redata = ac.write_container([enc(dict(t)) for t in tagged], schema)
    assert list(ac.read_container(redata)) == plain


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.integers(min_value=-(2**40), max_value=2**40),
            st.text(max_size=12),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_hive_escape_roundtrip_property(vals):
    """_hive_escape/_hive_unescape survive arbitrary partition values
    (slashes, equals, percent, unicode, null) — a broken escape silently
    fuses or splits partition directories."""
    for v in vals:
        enc = asp._hive_escape(v)
        assert "/" not in enc and "=" not in enc
        dec = asp._hive_unescape(enc)
        if v is None:
            assert dec is None
        else:
            assert dec == str(v)


def test_hive_escape_pandas_nulls():
    """pandas null sentinels (NaT from timestamp partition columns, NA
    from nullable dtypes) must map to the hive null directory, not to
    literal 'NaT'/'<NA>' directory names that read back as strings."""
    import pandas as pd

    for v in (None, float("nan"), pd.NaT, pd.NA):
        assert asp._hive_escape(v) == asp._HIVE_NULL
    # non-null scalars still stringify
    assert asp._hive_unescape(asp._hive_escape(0)) == "0"
    assert asp._hive_unescape(asp._hive_escape("NaT")) == "NaT"


def test_rebase_onto_root_uri_forms():
    """Per-file Hadoop URIs from a binaryFile listing map into the
    path-within-fs space of resolve_fs(base): authority dropped (NOT
    folded into the path), S3-style bucket-in-root preserved, local
    file:/ and plain paths unchanged."""
    rb = asp._rebase_onto_root
    # hdfs: authority must not leak into the fs path
    assert rb(
        "hdfs://nn:8020/data/x.avro", "hdfs://nn:8020/data", "/data"
    ) == "/data/x.avro"
    # s3-style: pyarrow keeps the bucket in the in-fs path
    assert rb(
        "s3://bucket/dir/a.avro", "s3://bucket/dir", "bucket/dir"
    ) == "bucket/dir/a.avro"
    # subtree-style factory: root is relative to the backing fs
    assert rb(
        "testfs://data/out/p.avro", "testfs://data/out", "data/out"
    ) == "data/out/p.avro"
    # local qualified URI over a plain base path
    assert rb("file:/tmp/t/f.avro", "/tmp/t", "/tmp/t") == "/tmp/t/f.avro"
    # file outside the base tree: fall back to the bare path component
    assert rb("file:/elsewhere/f.avro", "/tmp/t", "/tmp/t") == "/elsewhere/f.avro"


def test_partitioned_avro_then_compact_e2e(spark, tmp_path):
    """The new partitioned sink feeds the compactor: hive k=v leaves of
    small avro files compact leaf-by-leaf, and the partitioned reader
    still reconstructs partition columns from the compacted tree."""
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(300)],
        "id bigint, name string, bucket bigint",
    )
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    # several files per leaf (repartition on a high-card key)
    write_avro_folder(
        df.repartition(4, "id"), src, partition_by=["bucket"]
    )
    per_leaf = collections.Counter(
        p.parent.name for p in (tmp_path / "src").rglob("*.avro")
    )
    assert all(n > 1 for n in per_leaf.values()), per_leaf
    res = compact(
        spark, CompactionParams(source=src, target=tgt, file_count=1, fmt="avro")
    )
    assert res.success, res.errors
    out_leaf = collections.Counter(
        p.parent.name for p in (tmp_path / "tgt").rglob("*.avro")
    )
    assert set(out_leaf) == set(per_leaf) and all(
        n == 1 for n in out_leaf.values()
    ), out_leaf
    back = read_avro_folder(spark, tgt)
    got = collections.Counter(
        (r["id"], r["name"], r["bucket"]) for r in back.collect()
    )
    want = collections.Counter(
        (r["id"], r["name"], r["bucket"]) for r in df.collect()
    )
    assert got == want


def test_partitioned_write_commit_protocol(spark, tmp_path):
    """The partitioned sink honors the same commit protocol as the flat
    sink: success leaves no temps anywhere in the tree; a failing job
    leaves no VISIBLE .avro file in any leaf (temps swept in the finally,
    aborted runs clean up too)."""
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(60)],
        "id bigint, name string, bucket bigint",
    )
    out = tmp_path / "pcommit"
    write_avro_folder(df.repartition(2), str(out), partition_by=["bucket"])
    all_files = [p.name for p in out.rglob("*") if p.is_file()]
    assert all_files and not [n for n in all_files if n.startswith("_tmp-")]

    bad_schema = {
        "type": "record",
        "name": "Rec",
        "fields": [{"name": "id", "type": "null"}],  # non-null value → error
    }
    out2 = tmp_path / "paborted"
    with pytest.raises(Exception):
        write_avro_folder(
            df.repartition(2), str(out2), schema=bad_schema,
            partition_by=["bucket"],
        )
    leftovers = (
        [p for p in out2.rglob("*.avro") if not p.name.startswith("_")]
        if out2.exists()
        else []
    )
    assert leftovers == []
    temps = list(out2.rglob("_tmp-*")) if out2.exists() else []
    assert temps == []  # finally-sweep removed aborted attempts' temps
