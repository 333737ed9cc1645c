"""Distributed Avro read/write on Spark, backed by the engine's own
container codec (:mod:`spark_dba_spark.sources.avro_codec`).

D1/D5 parity for the reference's Avro-native pipeline
(``DefragmentAvroFolder.scala:267-272, 298``) without the spark-avro
connector (absent from this classpath, no network to fetch it):

- **read**: the folder is planned into **byte-range splits on sync
  markers** (the same splittable-container protocol as the reference's
  ``AvroKeyInputFormat``, ``DefragmentAvroFolder.scala:267-272``): a
  multi-GB stray container decodes as many tasks, memory per task bounded
  by one block, not one file. Each split resolves its file's writer schema
  against an optional *reader schema* — the schema-evolution ladder (§1.3)
  the reference calls out as its reason for avoiding spark-avro
  (``DefragmentAvroFolder.scala:17-20``). Splits are sized with Spark's
  scan rule, ``min(split_bytes, max(spark.sql.files.openCostInBytes,
  ceil(total_bytes / parallelism)))``, and packed into byte-balanced bins,
  one decode task per bin; the bins reach the executors as the rows of a
  JVM ``LocalRelation``, so planning runs no Python stage. A Python task
  on a reused worker costs about 0.1 s before the decode starts, and a
  one-task job about 0.18 s end to end (4-vCPU VM, CPython 3.11, PySpark
  4.1; it was 0.3-0.4 s before :mod:`spark_dba_spark.zipcache` stopped
  every task re-reading pyspark.zip's directory), so a leaf of tiny files
  is still read by a few tasks, not one per file.
- **write**: one container file per partition via ``mapInPandas`` with a
  streaming block writer; ``df.coalesce(n)`` upstream controls file count
  exactly like the reference's D3. A frame the reader returned untouched
  is written by **block copy** instead: one task per read bin walks the
  bin's source blocks and appends them to one output file without
  decoding the records of any file whose writer schema already has the
  output's canonical form, the Avro analogue of
  ``DataFileWriter.appendAllFrom``. Tasks write to an attempt-unique hidden
  temp name and commit by rename (atomic on local/HDFS; copy+delete on
  object stores, where duplicate attempts stay safe because both commit
  identical bytes to the same final name), so speculative/zombie duplicate
  attempts can't interleave into one file and aborted jobs leave no
  visible partial output; the driver sweeps this run's temps in a
  ``finally`` — aborted jobs clean up too.

Both paths do I/O through ``pyarrow.fs`` resolved from the path's scheme
(local, ``hdfs://``, ``s3://``, plus test-registerable schemes), matching
the reference's any-FileSystem posture (``saveAsNewAPIHadoopDataset``,
``DefragmentAvroFolder.scala:298``). pyarrow FileSystem handles are
pickled into the task closures, so executors need no scheme registry.
"""

from __future__ import annotations

import datetime as _dt
import functools
import math
import os
import uuid
from dataclasses import dataclass
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import avro_codec as ac
from .fsops import _rebase_onto_root, register_fs_scheme, resolve_fs  # noqa: F401

# ---------------------------------------------------------------------------
# Schema mapping: Avro <-> Spark
# ---------------------------------------------------------------------------

_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def avro_to_spark_type(schema: Any) -> T.DataType:
    schema = ac.parse_schema(schema)
    t = ac.schema_type(schema)
    if t == "union":
        branches = [b for b in schema if ac.schema_type(b) != "null"]
        if len(branches) == 1:
            return avro_to_spark_type(branches[0])
        # Multi-branch union → struct of nullable branch fields, the
        # spark-avro member{i} convention plus an explicit `tag` (index
        # into the non-null branch list) so the writer can invert the
        # mapping without guessing from Python value types. Exactly one
        # member is non-null per value; a union-level null (when a null
        # branch exists) is a null struct.
        return T.StructType(
            [T.StructField("tag", T.IntegerType(), False)]
            + [
                T.StructField(f"member{i}", avro_to_spark_type(b), True)
                for i, b in enumerate(branches)
            ]
        )
    lt = schema.get("logicalType") if isinstance(schema, dict) else None
    if lt == "date":
        return T.DateType()
    if lt in ("local-timestamp-micros", "local-timestamp-millis"):
        return T.TimestampNTZType()
    if lt in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType()
    if t in _PRIM_TO_SPARK:
        return _PRIM_TO_SPARK[t]
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        return T.ArrayType(avro_to_spark_type(schema["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(schema["values"]))
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"], avro_to_spark_type(f["type"]), _nullable(f["type"])
                )
                for f in schema["fields"]
            ]
        )
    raise ValueError(f"unsupported avro type {t}")


def _nullable(schema: Any) -> bool:
    return ac.schema_type(ac.parse_schema(schema)) == "union" and any(
        ac.schema_type(b) == "null" for b in ac.parse_schema(schema)
    )


def avro_record_to_struct(schema: Any) -> T.StructType:
    st = avro_to_spark_type(schema)
    if not isinstance(st, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    return st


_SPARK_TO_PRIM = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.ShortType(): "int",
    T.ByteType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.BinaryType(): "bytes",
    T.StringType(): "string",
}


def spark_type_to_avro(dt: T.DataType, nullable: bool = False) -> Any:
    if isinstance(dt, T.DateType):
        base: Any = {"type": "int", "logicalType": "date"}
    elif isinstance(dt, T.TimestampNTZType):
        # wall-clock semantics → avro local-timestamp-micros (naive)
        base = {"type": "long", "logicalType": "local-timestamp-micros"}
    elif isinstance(dt, T.TimestampType):
        base = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dt, T.DecimalType):
        # decimals travel as strings (exact, sortable back via cast) — the
        # reference never touches field types, so lossless passthrough wins
        base = "string"
    elif isinstance(dt, T.ArrayType):
        base = {
            "type": "array",
            "items": spark_type_to_avro(dt.elementType, dt.containsNull),
        }
    elif isinstance(dt, T.MapType):
        base = {
            "type": "map",
            "values": spark_type_to_avro(dt.valueType, dt.valueContainsNull),
        }
    elif isinstance(dt, T.StructType):
        base = struct_to_avro_record(dt, name=f"rec_{uuid.uuid4().hex[:8]}")
    elif dt in _SPARK_TO_PRIM:
        base = _SPARK_TO_PRIM[dt]
    else:
        raise ValueError(f"unsupported spark type {dt}")
    if nullable:
        return ["null", base]
    return base


def struct_to_avro_record(st: T.StructType, name: str = "row") -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": spark_type_to_avro(f.dataType, f.nullable),
                **({"default": None} if f.nullable else {}),
            }
            for f in st.fields
        ],
    }


# ---------------------------------------------------------------------------
# Multi-branch union value conversion (decode → tagged struct, encode back)
# ---------------------------------------------------------------------------
#
# The codec is schema-generic (any Avro union decodes/encodes fine — the
# reference likewise passes unions through untouched, records being opaque
# to it, DefragmentAvroFolder.scala:267-272); only the DataFrame mapping
# needs a shape. Decoded values carry no branch index, so the tag is
# re-derived from the Python value's type CLASS (exact class first — an
# int never re-tags as a ``double`` branch just because doubles accept
# ints). Unions whose branches share a value class (["float","double"],
# two records, record+map, ...) cannot be tagged faithfully from values
# and are rejected up front rather than silently corrupted.

# avro branch → the Python-value class its decoded values inhabit
_UNION_CLASS = {
    "boolean": "bool", "int": "i", "long": "i", "float": "f", "double": "f",
    "string": "str", "enum": "str", "bytes": "bytes", "fixed": "bytes",
    "record": "rec", "map": "map", "array": "arr",
}


def _branch_class(schema: Any) -> str:
    lt = schema.get("logicalType") if isinstance(schema, dict) else None
    if lt == "date":
        return "date"
    if lt in ("timestamp-micros", "timestamp-millis",
              "local-timestamp-micros", "local-timestamp-millis"):
        return "ts"
    return _UNION_CLASS[ac.schema_type(schema)]


def _value_class(v: Any) -> str:
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, _dt.datetime):  # before date — datetime IS a date
        return "ts"
    if isinstance(v, _dt.date):
        return "date"
    if isinstance(v, dict):
        return "rec_or_map"
    if isinstance(v, (list, tuple)):
        return "arr"
    raise ValueError(f"untaggable decoded union value {v!r}")


def _decoded_converter(schema: Any):
    """Converter from codec-decoded values to the Spark struct shape for
    any multi-branch union nested anywhere in ``schema``; None = identity
    (the fast path — schemas without multi-unions pay nothing)."""
    schema = ac.parse_schema(schema)
    t = ac.schema_type(schema)
    if t == "union":
        branches = [b for b in schema if ac.schema_type(b) != "null"]
        if len(branches) == 1:
            return _decoded_converter(branches[0])
        classes = [_branch_class(b) for b in branches]
        if len(set(classes)) != len(classes) or (
            "rec" in classes and "map" in classes
        ):
            raise NotImplementedError(
                "union branches must have distinct value classes to map to "
                f"a tagged struct (got {classes} for {schema}); branches "
                "like [float, double] or two records are indistinguishable "
                "from decoded values"
            )
        by_class = {c: i for i, c in enumerate(classes)}
        convs = [_decoded_converter(b) for b in branches]
        n_b = len(branches)

        def conv_union(v):
            if v is None:
                return None
            vc = _value_class(v)
            if vc == "rec_or_map":
                i = by_class.get("rec", by_class.get("map"))
            else:
                i = by_class.get(vc)
                if i is None and vc == "i":
                    i = by_class.get("f")  # int into a float/double branch
            if i is None:
                raise ValueError(
                    f"decoded value {v!r} matches no branch of {schema}"
                )
            out = {"tag": i}
            for j in range(n_b):
                out[f"member{j}"] = None
            out[f"member{i}"] = convs[i](v) if convs[i] else v
            return out

        return conv_union
    if t == "record":
        fconvs = {
            f["name"]: _decoded_converter(f["type"]) for f in schema["fields"]
        }
        if not any(fconvs.values()):
            return None

        def conv_record(rec):
            if rec is None:
                return None
            for n, c in fconvs.items():
                if c is not None:
                    rec[n] = c(rec[n])
            return rec

        return conv_record
    if t == "array":
        inner = _decoded_converter(schema["items"])
        if inner is None:
            return None
        return lambda v: None if v is None else [inner(x) for x in v]
    if t == "map":
        inner = _decoded_converter(schema["values"])
        if inner is None:
            return None
        return lambda v: (
            None if v is None else {k: inner(x) for k, x in dict(v).items()}
        )
    return None


def _encode_converter(schema: Any):
    """Inverse of :func:`_decoded_converter`: tagged member structs →
    raw branch values the codec's union encoder accepts. None = identity."""
    schema = ac.parse_schema(schema)
    t = ac.schema_type(schema)
    if t == "union":
        non_null = [
            (i, b) for i, b in enumerate(schema) if ac.schema_type(b) != "null"
        ]
        if len(non_null) == 1:
            return _encode_converter(non_null[0][1])
        # tag (index into non-null branches, the struct's convention) →
        # full-union branch index for exact codec branch selection
        full_idx = [i for i, _ in non_null]
        null_idx = next(
            (i for i, b in enumerate(schema) if ac.schema_type(b) == "null"),
            None,
        )
        convs = [_encode_converter(b) for _, b in non_null]

        def conv_union(v):
            if v is None:
                if null_idx is None:
                    raise ValueError(f"null for non-nullable union {schema}")
                return ac.TaggedUnion(null_idx, None)
            tag = int(v["tag"])
            val = v[f"member{tag}"]
            return ac.TaggedUnion(
                full_idx[tag], convs[tag](val) if convs[tag] else val
            )

        return conv_union
    if t == "record":
        fconvs = {
            f["name"]: _encode_converter(f["type"]) for f in schema["fields"]
        }
        if not any(fconvs.values()):
            return None

        def conv_record(rec):
            if rec is None:
                return None
            for n, c in fconvs.items():
                if c is not None:
                    rec[n] = c(rec[n])
            return rec

        return conv_record
    if t == "array":
        inner = _encode_converter(schema["items"])
        if inner is None:
            return None
        return lambda v: None if v is None else [inner(x) for x in v]
    if t == "map":
        inner = _encode_converter(schema["values"])
        if inner is None:
            return None
        return lambda v: (
            None if v is None else {k: inner(x) for k, x in dict(v).items()}
        )
    return None


def _list_avro_files(fs, root: str, recursive: bool) -> list:
    """Non-hidden ``*.avro`` FileInfos under root (M8/M20 conventions)."""
    import pyarrow.fs as pafs

    sel = pafs.FileSelector(root, recursive=recursive, allow_not_found=True)
    out = []
    for info in fs.get_file_info(sel):
        if info.type != pafs.FileType.File:
            continue
        base = info.base_name
        if base.startswith(".") or base.startswith("_"):
            continue
        if base.lower().endswith(".avro"):
            out.append(info)
    return sorted(out, key=lambda i: i.path)


# ---------------------------------------------------------------------------
# Hive-style partition layout helpers (k=v directory segments)
# ---------------------------------------------------------------------------

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_escape(v: Any) -> str:
    from urllib.parse import quote

    # pd.isna covers every scalar null the pandas groupby can hand us —
    # None, float NaN, pd.NaT (timestamp partition columns), pd.NA
    # (nullable dtypes). str() on those would mint literal 'NaT'/'<NA>'
    # directory names that read back as strings, not nulls. Guarded to
    # scalars: pd.isna on a list/array returns an array.
    if not isinstance(v, (list, tuple, dict, set)):
        try:
            if pd.isna(v):
                return _HIVE_NULL
        except (TypeError, ValueError):
            pass
    return quote(str(v), safe="")


def _hive_unescape(s: str):
    from urllib.parse import unquote

    if s == _HIVE_NULL:
        return None
    return unquote(s)


def _discover_hive_partitions(root: str, files: list):
    """Parse ``k=v`` directory segments between ``root`` and each file.

    Returns ``(part_cols, types, values_by_path)`` where ``types`` are
    Spark types inferred Spark-style (all-long → long, else all-double →
    double, else string) and ``values_by_path`` maps file path → tuple of
    typed partition values. Empty part_cols ⇒ not a partitioned layout
    (any file without the common key sequence disables discovery)."""
    root_norm = root.rstrip("/")
    kvs_per_file: list[list[tuple[str, str]]] = []
    for info in files:
        rel = info.path[len(root_norm):].strip("/")
        segs = rel.split("/")[:-1]
        kvs = [tuple(s.split("=", 1)) for s in segs if "=" in s and not s.startswith("=")]
        kvs_per_file.append(kvs)
    if not kvs_per_file or not kvs_per_file[0]:
        return [], [], {}
    keys = [k for k, _ in kvs_per_file[0]]
    if any([k for k, _ in kvs] != keys for kvs in kvs_per_file):
        return [], [], {}

    raw_cols = list(zip(*[[v for _, v in kvs] for kvs in kvs_per_file]))
    types: list[T.DataType] = []
    typed_cols = []
    for col_vals in raw_cols:
        vals = [_hive_unescape(v) for v in col_vals]
        non_null = [v for v in vals if v is not None]

        def _all(cast):
            try:
                return [None if v is None else cast(v) for v in vals]
            except ValueError:
                return None

        as_int = _all(int) if non_null else None
        if as_int is not None:
            types.append(T.LongType())
            typed_cols.append(as_int)
            continue
        as_float = _all(float) if non_null else None
        if as_float is not None:
            types.append(T.DoubleType())
            typed_cols.append(as_float)
            continue
        types.append(T.StringType())
        typed_cols.append(vals)
    values_by_path = {
        info.path: tuple(col[i] for col in typed_cols)
        for i, info in enumerate(files)
    }
    return keys, types, values_by_path


# ---------------------------------------------------------------------------
# Distributed read (sync-marker block splits)
# ---------------------------------------------------------------------------

DEFAULT_SPLIT_BYTES = 128 << 20  # one Hadoop-block-ish range per task


def _cut_ranges(
    path: str, size: int, max_split: int
) -> list[tuple[str, int, int]]:
    """``path``'s bytes [0, size) as ``ceil(size / max_split)`` ranges of
    equal length (the last may be shorter), none for an empty file: the one
    split rule of the batch reader and ``read_avro_stream``. Decoding snaps
    each range to the sync markers inside it."""
    n = max(1, math.ceil(size / max_split))
    step = max(1, math.ceil(size / n))
    return [(path, lo, min(lo + step, size)) for lo in range(0, size, step)]


def _plan_bins(
    files: list,
    split_bytes: int,
    open_cost: int,
    parallelism: int,
    partitions: int | None = None,
) -> list[list[tuple[str, int, int]]]:
    """Cut ``files`` (pyarrow FileInfos) into byte-range splits and pack the
    splits into byte-balanced bins, one decode task per bin.

    The split size is Spark's own file-scan rule (``FilePartition.
    maxSplitBytes``): ``min(split_bytes, max(open_cost, ceil(total /
    parallelism)))``. Unlike Spark's packer, a file is not charged
    ``open_cost`` on top of its length: opening a file costs far less than
    the Python task a bin becomes, so tiny files share bins. Files larger
    than the split size are cut into equal ranges (snapped to sync markers
    at decode time). The splits then go largest first into the least-loaded
    of ``k`` bins: ``k = min(partitions, n_splits)`` when ``partitions`` is
    given, else ``min(ceil(total / split size), n_splits)``. Each bin lists
    its splits in (path, start) order."""
    import heapq

    total = sum(int(i.size) for i in files)
    max_split = max(
        1, min(split_bytes, max(open_cost, math.ceil(total / max(1, parallelism))))
    )
    splits = [
        sp for info in files
        for sp in _cut_ranges(info.path, int(info.size), max_split)
    ]
    if not splits:
        return []
    k = min(partitions or max(1, math.ceil(total / max_split)), len(splits))
    heap = [(0, b) for b in range(k)]
    bins: list[list[tuple[str, int, int]]] = [[] for _ in range(k)]
    for sp in sorted(splits, key=lambda s: (s[1] - s[2], s[0], s[1])):
        load, b = heapq.heappop(heap)
        bins[b].append(sp)
        heapq.heappush(heap, (load + sp[2] - sp[1], b))
    return [sorted(b) for b in bins]


def read_avro_folder(
    spark: SparkSession,
    path: str,
    reader_schema: str | dict | None = None,
    recursive: bool = True,
    split_bytes: int = DEFAULT_SPLIT_BYTES,
    partitions: int | None = None,
) -> DataFrame:
    """Folder of ``.avro`` container files → DataFrame.

    With ``reader_schema`` (dict or .avsc JSON string), every file's writer
    schema is resolved against it — field defaults, dropped fields, numeric
    promotions (schema evolution). Without it, the latest-modified file's
    embedded schema is used as the reader schema, the reference's stated
    heuristic: "Latest file will have latest schema"
    (``DefragmentAvroFolder.scala:91-103``).

    Planning (driver, one listing): files are cut into byte-range splits
    and packed into byte-balanced bins by :func:`_plan_bins`, with Spark's
    scan sizing rule ``min(split_bytes, max(spark.sql.files.
    openCostInBytes, ceil(total_bytes / parallelism)))`` where parallelism
    is ``spark.sql.leafNodeDefaultParallelism`` (default: the context's
    ``defaultParallelism``). An integer ``partitions`` asks for exactly
    that many bins instead, capped at the number of splits. The bins
    travel to the executors as one row each of a JVM ``LocalRelation``
    (built from an Arrow table):
    no Python stage and no shuffle, unless there are more bins than the
    relation has partitions, when a round-robin repartition spreads them.
    The decode is then one Python task per bin. The reason is the fixed
    cost of a Python task: about 0.1 s before the user function runs on a
    reused worker, 0.18 s for a one-task job (4-vCPU VM, CPython 3.11,
    PySpark 4.1), most of it on the JVM side: scheduling, task launch,
    and the first Arrow batch the worker waits for. It was 0.3-0.4 s,
    mostly the worker's ``importlib.invalidate_caches()`` re-reading
    pyspark.zip's directory, until :mod:`spark_dba_spark.zipcache` made
    that re-read stat-keyed. One task per tiny file, as the compactor's
    leaves have, spent nearly all of a compaction in that set-up.

    Each split syncs to the first block boundary (16-byte sync marker)
    at/after its range start and decodes blocks whose start offset falls
    inside its range — the Avro container split protocol (reference:
    splittable ``AvroKeyInputFormat``,
    ``DefragmentAvroFolder.scala:267-272``). Task memory is bounded by one
    block, never one file.

    The returned frame carries its scan plan (filesystem, bins, reader
    schema) for :func:`write_avro_folder`, which copies the source blocks
    bin by bin instead of decoding them when the frame is written back
    untransformed (see there). Any transformation returns a new frame
    without the plan. Frames with hive partition columns carry none.

    Filesystems pyarrow can't reach (e.g. a Hadoop-only scheme like
    ``wasbs://``, or ``hdfs://`` without libhdfs on the workers) fall back
    to a Spark ``binaryFile`` scan — whole-file-per-task (no block
    splits, ``partitions`` not applied, no scan plan), but working on ANY
    Hadoop filesystem, which was the behavior before block-split reads
    existed.
    """
    try:
        fs, root = resolve_fs(path)
    except ValueError:
        return _read_avro_binaryfile(spark, path, reader_schema, recursive)
    files = _list_avro_files(fs, root, recursive)
    if reader_schema is None:
        reader_schema = _newest_file_schema(fs, files, path)
    rs = ac.parse_schema(reader_schema)
    spark_schema = avro_record_to_struct(rs)
    col_order = [f.name for f in spark_schema.fields]

    # Hive-layout partition discovery (k=v dir segments): partition values
    # live in the path, not the files — re-attach them as trailing columns,
    # Spark-style type inference (long → double → string).
    part_cols, part_types, part_vals = _discover_hive_partitions(root, files)
    keep = [i for i, c in enumerate(part_cols) if c not in col_order]
    part_cols = [part_cols[i] for i in keep]
    part_types = [part_types[i] for i in keep]
    part_vals = {p: tuple(v[i] for i in keep) for p, v in part_vals.items()}
    if part_cols:
        for c, t in zip(part_cols, part_types):
            spark_schema = spark_schema.add(T.StructField(c, t, True))

    from ..catalog import _parse_bytes

    parallelism = int(
        spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304"), 4 << 20
    )
    bins = _plan_bins(files, split_bytes, open_cost, parallelism, partitions)
    if not bins:
        # With an explicit reader schema an empty/just-swept folder is a
        # valid empty relation; only schema probing has nothing to work on.
        return spark.createDataFrame([], spark_schema)

    # Partition values ride IN the bin rows (JSON per split), not in the
    # task closure: a values-by-path dict pickled into every task would
    # grow with the file count — a million-file tree would ship a
    # million-entry dict to each executor.
    import json as _json

    import pyarrow as pa

    bins_df = spark.createDataFrame(
        pa.table(
            {
                "b": list(range(len(bins))),
                "path": [[p for p, _, _ in b] for b in bins],
                "start": [[lo for _, lo, _ in b] for b in bins],
                "end": [[hi for _, _, hi in b] for b in bins],
                "pv": [
                    [
                        _json.dumps(list(part_vals[p])) if part_cols else "[]"
                        for p, _, _ in b
                    ]
                    for b in bins
                ],
            }
        ),
        schema="b long, path array<string>, start array<long>, "
        "end array<long>, pv array<string>",
    )
    # A LocalRelation of n rows scans as min(n, parallelism) partitions,
    # one row each when n fits.
    if len(bins) > parallelism:
        bins_df = bins_df.repartition(len(bins))

    conv = _decoded_converter(rs)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in zip(pdf["path"], pdf["start"], pdf["end"], pdf["pv"]):
                for fpath, start, end, pv in zip(*row):
                    pvals = _json.loads(pv) if part_cols else ()
                    for out in _decode_split(
                        fs, str(fpath), int(start), int(end), rs, col_order,
                        conv=conv,
                    ):
                        if part_cols:
                            for c, v in zip(part_cols, pvals):
                                out[c] = v
                        yield out

    df = bins_df.mapInPandas(decode, spark_schema)
    if not part_cols:
        df._avro_scan = _BlockScan(fs, bins_df, bins, rs)
    return df


@dataclass(frozen=True)
class _BlockScan:
    """What :func:`read_avro_folder` planned: the source filesystem, the
    bins as a ``LocalRelation`` (one row per bin) and as Python lists, and
    the reader schema."""

    fs: Any
    bins_df: DataFrame
    bins: list[list[tuple[str, int, int]]]
    reader_schema: Any


def has_block_scan(df: DataFrame) -> bool:
    """True when ``df`` is an untransformed :func:`read_avro_folder` frame
    that :func:`write_avro_folder` can write by copying blocks."""
    return getattr(df, "_avro_scan", None) is not None


def _read_avro_binaryfile(
    spark: SparkSession,
    path: str,
    reader_schema: str | dict | None,
    recursive: bool,
) -> DataFrame:
    """Whole-file-per-task decode through Spark's ``binaryFile`` source —
    reaches any Hadoop filesystem (s3a://, wasbs://, viewfs://, ...) via
    the JVM, at the cost of no intra-file splits. Used as the fallback
    when pyarrow has no driver for the scheme."""
    if reader_schema is None:
        reader_schema = _latest_file_schema_hadoop(spark, path, recursive)
    rs = ac.parse_schema(reader_schema)
    spark_schema = avro_record_to_struct(rs)
    col_order = [f.name for f in spark_schema.fields]

    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
        .select("content")
    )

    return bin_df.mapInPandas(
        functools.partial(
            _decode_blobs, reader_schema=rs, conv=_decoded_converter(rs),
            col_order=col_order,
        ),
        spark_schema,
    )


def _decode_blobs(
    batches: Iterator[pd.DataFrame], *, reader_schema: Any, conv,
    col_order: list[str],
) -> Iterator[pd.DataFrame]:
    """Whole-container decode of a ``binaryFile`` ``content`` column: one
    pandas frame per file."""
    for pdf in batches:
        for blob in pdf["content"]:
            recs = ac.read_container(bytes(blob), reader_schema=reader_schema)
            yield pd.DataFrame.from_records(
                list(recs if conv is None else map(conv, recs)),
                columns=col_order,
            )


def _latest_file_schema_hadoop(
    spark: SparkSession, path: str, recursive: bool
) -> dict:
    """Latest-modified file's embedded schema via the Hadoop FileSystem
    (header bytes only) — the any-scheme twin of latest_file_schema."""
    from .fsops import FsOps, is_valid_data_file

    fs = FsOps(spark)
    if recursive:
        cands = [
            s
            for s in fs.list_files_recursive(path)
            if is_valid_data_file(s.path, "avro")
        ]
        latest = (
            max(cands, key=lambda s: (s.mtime, s.path)).path if cands else None
        )
    else:
        latest = fs.latest_modified_file(path, "avro")
    if latest is None:
        raise FileNotFoundError(f"no .avro files under {path}")
    try:
        return ac.read_header(fs.read_bytes(latest, _HEADER_PROBE_BYTES))[0]
    except EOFError:
        # header larger than the probe (giant embedded schema) — one
        # bounded retry before giving a clear diagnostic
        try:
            return ac.read_header(fs.read_bytes(latest, _HEADER_MAX_BYTES))[0]
        except EOFError as exc:
            raise ValueError(
                f"avro container header of {latest} exceeds "
                f"{_HEADER_MAX_BYTES} bytes or the file is truncated"
            ) from exc


_DECODE_CHUNK_ROWS = 50_000  # rows per yielded Arrow batch

_HEADER_PROBE_BYTES = 1 << 20  # initial header read; retried ×16 if short
_HEADER_MAX_BYTES = 64 << 20


def _read_header_with_retry(f, flen: int):
    """Container header from an open pyarrow file, growing the probe read
    if the embedded schema exceeds the initial 1 MiB (a truncated header
    otherwise surfaces as a confusing varint EOFError deep in parsing).
    Growth is clamped to ``_HEADER_MAX_BYTES`` BEFORE the read, so the
    documented 64 MiB bound is what the process actually buffers — the
    unclamped ×16 ladder would read 256 MiB and accept headers past the
    cap it claimed to enforce."""
    size = min(_HEADER_PROBE_BYTES, _HEADER_MAX_BYTES)
    while True:
        f.seek(0)
        head = f.read(min(size, flen))
        try:
            return ac.read_header(head)
        except EOFError as exc:
            if size >= flen:
                raise  # whole file read — genuinely truncated/corrupt
            if size >= _HEADER_MAX_BYTES:
                raise ValueError(
                    f"avro container header exceeds {_HEADER_MAX_BYTES} "
                    "bytes — refusing to buffer further"
                ) from exc
            size = min(size * 16, _HEADER_MAX_BYTES)


def _split_blocks(
    fs, fpath: str, start: int, end: int
) -> Iterator[tuple[Any, str, int, bytes]]:
    """``(writer_schema, codec, record count, compressed payload)`` for each
    container block whose start offset lies in [start, end); every sync
    marker is checked.

    Block-boundary ownership: a block "starts" right after a sync marker
    (the header itself ends with the sync, so the first body block is a
    boundary too). The split owning offset p walks the block starting at
    p; scanning begins at ``start-16`` so a sync ending exactly at
    ``start`` is found by this split and not the previous one. A split
    whose range covers the header's end owns the first body block
    directly — scanning from inside the header would skip past the
    header-terminating sync and silently drop block 1.
    """
    with fs.open_input_file(fpath) as f:
        flen = f.size()
        writer_schema, codec, sync, body_pos = _read_header_with_retry(f, flen)
        if start <= body_pos:
            # the walk's ``pos < end`` rejects it when the range ends
            # before the body starts (that block belongs to the split
            # containing body_pos).
            pos = body_pos
        else:
            # scan forward for the first sync marker ending at >= start
            scan_from = max(body_pos, start - 16)
            f.seek(scan_from)
            window = b""
            pos = -1
            while scan_from + len(window) < flen:
                chunk = f.read(4 << 20)
                if not chunk:
                    break
                window += chunk
                idx = window.find(sync)
                if idx != -1:
                    pos = scan_from + idx + 16
                    break
                # syncs can straddle chunk boundaries — keep a 15-byte tail
                if len(window) > 15:
                    scan_from += len(window) - 15
                    window = window[-15:]
            if pos < 0 or pos >= end:
                return  # no block starts inside this range
        try:
            for count, payload in ac.iter_blocks(f, sync, pos, min(end, flen)):
                yield writer_schema, codec, count, payload
        except (ValueError, EOFError) as exc:
            raise ValueError(f"{fpath}: {exc}") from exc


def _decode_split(
    fs, fpath: str, start: int, end: int, reader_schema: Any,
    col_order: list[str], conv=None,
) -> Iterator[pd.DataFrame]:
    """Decode the records of the blocks :func:`_split_blocks` walks for
    [start, end), resolved against ``reader_schema``, as pandas chunks."""
    rows: list[dict] = []
    for writer_schema, codec, count, payload in _split_blocks(
        fs, fpath, start, end
    ):
        decoded = ac.decode_block(
            ac._decompress(codec, payload), count, writer_schema,
            reader_schema,
        )
        rows.extend(decoded if conv is None else map(conv, decoded))
        if len(rows) >= _DECODE_CHUNK_ROWS:
            yield pd.DataFrame.from_records(rows, columns=col_order)
            rows = []
    if rows:
        yield pd.DataFrame.from_records(rows, columns=col_order)


def latest_file_schema(
    spark: SparkSession, path: str, recursive: bool = True
) -> dict:
    """Embedded writer schema of the newest .avro file under ``path`` (M7 +
    M3 parity) — reads only the file's HEADER bytes through the resolved
    filesystem (any scheme), never the whole file."""
    fs, root = resolve_fs(path)
    return _newest_file_schema(fs, _list_avro_files(fs, root, recursive), path)


def _newest_file_schema(fs, files: list, path: str) -> dict:
    """Header schema of the newest of ``files`` (ties broken by path)."""
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    latest = max(files, key=lambda i: (i.mtime, i.path))
    with fs.open_input_file(latest.path) as f:
        return _read_header_with_retry(f, int(latest.size))[0]


def read_avro_stream(
    spark: SparkSession,
    path: str,
    reader_schema: str | dict,
    recursive: bool = True,
    split_bytes: int = DEFAULT_SPLIT_BYTES,
) -> DataFrame:
    """Streaming variant of :func:`read_avro_folder`: a ``binaryFile`` file
    stream decoded per micro-batch with the same reader-schema resolution.
    An explicit reader schema is required (a stream cannot probe a
    latest-modified file — files arrive over time).

    Like the batch reader, files larger than ``split_bytes`` decode as
    MULTIPLE byte-range splits: the stream carries only (path, length)
    metadata (binaryFile's content column is pruned away, never read), a
    map-side planner expands each file into sync-marker split ranges
    (pure arithmetic on the length — no I/O), a stateless hash
    repartition spreads the ranges across tasks, and each task decodes
    its blocks with the same `_decode_split` as the batch path. One huge
    landed file can no longer stall a micro-batch behind a single task.

    Filesystems pyarrow can't reach fall back to whole-file-per-task
    decode of the binaryFile content (the pre-split behavior)."""
    rs = ac.parse_schema(reader_schema)
    spark_schema = avro_record_to_struct(rs)
    col_order = [f.name for f in spark_schema.fields]
    u_conv = _decoded_converter(rs)

    # Streaming file sources demand an explicit schema; binaryFile's is
    # fixed by the format.
    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )

    try:
        fs, _root = resolve_fs(path)
    except ValueError:
        # No pyarrow driver for this scheme — whole-file decode through
        # the JVM-read content column (any Hadoop FS, no intra-file splits).
        return stream.select("content").mapInPandas(
            functools.partial(
                _decode_blobs, reader_schema=rs, conv=u_conv,
                col_order=col_order,
            ),
            spark_schema,
        )

    sb = max(1, split_bytes)
    base_uri = path

    def plan_splits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                sp for p, size in zip(pdf["path"], pdf["length"])
                for sp in _cut_ranges(
                    _rebase_onto_root(str(p), base_uri, _root), int(size), sb
                )
            ]
            yield pd.DataFrame(out, columns=["path", "start", "end"])

    splits = stream.select("path", "length").mapInPandas(
        plan_splits, "path string, start long, end long"
    )
    # Stateless shuffle: splits of one file land on different tasks.
    splits = splits.repartition(F.col("path"), F.col("start"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, start, end in zip(pdf["path"], pdf["start"], pdf["end"]):
                yield from _decode_split(
                    fs, str(fpath), int(start), int(end), rs, col_order,
                    conv=u_conv,
                )

    return splits.mapInPandas(decode, spark_schema)


# ---------------------------------------------------------------------------
# Distributed write
# ---------------------------------------------------------------------------

def write_avro_folder(
    df: DataFrame,
    path: str,
    schema: str | dict | None = None,
    codec: str = "snappy",
    block_records: int = 4096,
    mode: str = "append",
    block_bytes: int | None = None,
    partition_by: list[str] | None = None,
    stats: dict | None = None,
    verify: bool = False,
) -> int:
    """Write ``df`` as one Avro container file per partition under ``path``.
    Returns the number of files written. File count is controlled upstream
    (``df.coalesce(n)``), exactly like the reference's D3+D5 pipeline.
    ``stats``, when given, receives ``records``: the number written.

    ``verify``: each task reopens the file it just committed, through the
    same filesystem, and decodes every record against the output schema
    with :mod:`avro_codec` (:func:`_read_back`); ``stats`` then also
    receives ``decoded``, the records so read, and ``files``, the paths
    the tasks committed. The read-back runs inside the write's tasks, so
    it adds no job. A block whose header count disagrees with its payload
    raises there and fails the write.

    Block copy: when ``df`` is a frame :func:`read_avro_folder` returned
    untransformed (:func:`has_block_scan`) and the output schema has the
    parsing canonical form of its reader schema, the sink skips the
    DataFrame and runs one ``mapInPandas`` over the read's bins
    (:func:`_copy_bins`): one output file per bin, one task reading and
    writing it. A source file whose writer schema has the output's
    canonical form (so the same binary encoding) has its blocks
    decompressed — which checks a snappy block's CRC — and appended to
    the output's block buffer undecoded, small blocks merging up to
    ``block_records``/``block_bytes``. Other files decode with schema
    resolution and re-encode, that file only. The driver then raises
    unless every planned split was walked exactly once; ``records`` is
    the sum of the source block headers' record counts. Undecoded blocks
    are trusted: a source block whose header count disagrees with its
    payload (the null and deflate codecs carry no checksum) is merged as
    is, and only a decode of the output finds it (``verify``).

    ``mode``: 'append' (default — new uniquely-named files next to any
    existing), 'error' (fail if the folder already has .avro files),
    'overwrite' (delete existing .avro files first).

    I/O goes through :func:`resolve_fs` — local, ``hdfs://``, ``s3://`` and
    registered test schemes all work (reference parity: any Hadoop FS,
    ``DefragmentAvroFolder.scala:298``).

    Commit protocol (task level): each attempt streams into a hidden,
    attempt-unique temp name ``_tmp-<run>-a<taskAttemptId>-part-NNNNN.avro``
    and renames to the final ``part-NNNNN-<run>.avro`` only on success —
    speculative or zombie duplicate attempts never share a file handle, and
    a killed job leaves only hidden temps (ignored by every reader, M20
    convention). The driver sweeps this run's leftover temps after collect.

    ``partition_by``: hive-layout dynamic partitioning — rows land in
    ``k=v/.../part-*.avro`` leaf dirs; the partition columns are carried by
    the PATH (not written into the files, hive semantics), and
    :func:`read_avro_folder` re-attaches them via partition discovery.
    Each task writes one file per partition value it holds (same posture
    as Spark's dynamic partition insert) — pre-``repartition`` by the
    partition columns upstream to get one file per leaf.
    """
    if partition_by:
        return _write_avro_partitioned(
            df, path, partition_by, schema=schema, codec=codec,
            block_records=block_records, mode=mode, block_bytes=block_bytes,
        )
    fs, root = resolve_fs(path)
    import pyarrow.fs as pafs

    avro_schema = (
        ac.parse_schema(schema)
        if schema is not None
        else struct_to_avro_record(df.schema)
    )
    spark_schema = df.schema
    scan = getattr(df, "_avro_scan", None)
    if scan is not None and (
        ac.parsing_canonical_form(avro_schema)
        != ac.parsing_canonical_form(scan.reader_schema)
    ):
        scan = None  # another encoding than the one read: record path
    existing = _list_avro_files(fs, root, recursive=False)
    if existing and mode in ("error", "errorifexists"):
        raise FileExistsError(f"{path} already contains .avro files")
    if existing and mode == "overwrite":
        for info in existing:
            fs.delete_file(info.path)
    fs.create_dir(root, recursive=True)
    run_token = uuid.uuid4().hex[:12]

    out_schema = T.StructType([
        T.StructField("file", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("decoded", T.LongType()),
    ])

    u_conv = _encode_converter(avro_schema)

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else os.getpid()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        final = f"{root}/part-{pid:05d}-{run_token}.avro"
        tmp = f"{root}/_tmp-{run_token}-a{attempt}-part-{pid:05d}.avro"
        writer = None
        stream = None
        n = 0
        for pdf in batches:
            if writer is None:
                stream = fs.open_output_stream(tmp)
                writer = ac.ContainerWriter(
                    stream, avro_schema, codec=codec,
                    block_records=block_records, block_bytes=block_bytes
                )
            for rec in _pandas_to_records(pdf, spark_schema):
                writer.append(u_conv(rec) if u_conv is not None else rec)
                n += 1
        if writer is not None:
            writer.close()
            stream.close()
            # Commit of this task's output. True rename-atomicity only on
            # real filesystems (local/HDFS); on object stores pyarrow's
            # move is copy+delete — duplicate speculative attempts are
            # still safe because both attempts commit IDENTICAL content
            # to the same final name, not because the move is atomic.
            fs.move(tmp, final)
            decoded = _read_back(fs, final, avro_schema) if verify else 0
            yield pd.DataFrame({"file": [final], "n": [n], "decoded": [decoded]})
        else:
            yield pd.DataFrame({"file": [], "n": [], "decoded": []})

    if scan is None:
        job = df.mapInPandas(write_partition, out_schema)
    else:
        job = scan.bins_df.mapInPandas(
            functools.partial(
                _copy_bins, src_fs=scan.fs, out_fs=fs, root=root,
                run_token=run_token, schema=avro_schema, codec=codec,
                block_records=block_records, block_bytes=block_bytes,
                verify=verify,
            ),
            "file string, n long, decoded long, path array<string>, "
            "start array<long>",
        )
    try:
        summary = job.collect()
    finally:
        # Driver-side sweep — in a finally so ABORTED runs also clean up:
        # failed/zombie attempts from THIS run leave hidden
        # `_tmp-<run_token>-...` files; remove them so retries/debris never
        # accumulate. Other writers' temps are untouched.
        sel = pafs.FileSelector(root, recursive=False, allow_not_found=True)
        for info in fs.get_file_info(sel):
            if info.type == pafs.FileType.File and info.base_name.startswith(
                f"_tmp-{run_token}-"
            ):
                fs.delete_file(info.path)
    if scan is not None:
        walked = sorted(
            (p, s) for r in summary for p, s in zip(r["path"], r["start"])
        )
        if walked != sorted((p, lo) for b in scan.bins for p, lo, _ in b):
            raise RuntimeError(
                f"block copy into {path} walked {len(walked)} splits, not "
                f"each of the {sum(map(len, scan.bins))} planned exactly once"
            )
    files = [r["file"] for r in summary if r["file"]]
    if stats is not None:
        stats["records"] = sum(r["n"] for r in summary)
        if verify:
            stats["files"] = files
            stats["decoded"] = sum(r["decoded"] for r in summary)
    return len(files)


def _copy_bins(
    batches: Iterator[pd.DataFrame], *, src_fs, out_fs, root: str,
    run_token: str, schema: Any, codec: str, block_records: int,
    block_bytes: int | None, verify: bool = False,
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body of the block-copy write (see
    :func:`write_avro_folder`): each bin row of :func:`read_avro_folder`'s
    plan becomes one container ``part-<bin>-<run>.avro`` under ``root``,
    committed by the same attempt-unique temp + rename as the record path.
    Yields one row per bin: the file (None when its splits held no
    record), the records it took from block headers, the records
    :func:`_read_back` decoded from the committed file (0 unless
    ``verify``), and the splits walked."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
    for pdf in batches:
        for b, paths, starts, ends in zip(
            pdf["b"], pdf["path"], pdf["start"], pdf["end"]
        ):
            splits = [
                (str(p), int(lo), int(hi))
                for p, lo, hi in zip(paths, starts, ends)
            ]
            final = f"{root}/part-{b:05d}-{run_token}.avro"
            tmp = f"{root}/_tmp-{run_token}-a{attempt}-part-{b:05d}.avro"
            n = _write_blocks(
                (blk for sp in splits for blk in _split_blocks(src_fs, *sp)),
                out_fs, tmp, schema, codec, block_records, block_bytes,
            )
            decoded = 0
            if n:
                # rename-commit; object-store caveat as in write_avro_folder
                out_fs.move(tmp, final)
                if verify:
                    decoded = _read_back(out_fs, final, schema)
            yield pd.DataFrame({
                "file": [final if n else None],
                "n": [n],
                "decoded": [decoded],
                "path": [[p for p, _, _ in splits]],
                "start": [[lo for _, lo, _ in splits]],
            })


def _read_back(fs, path: str, schema: Any) -> int:
    """Records in the container at ``path``, counted by decoding each one
    against ``schema`` block by block (memory bounded by one block). Every
    sync marker is checked, and a block whose header count disagrees with
    its payload raises."""
    return sum(
        sum(1 for _ in ac.decode_block(
            ac._decompress(codec, payload), count, ws, schema))
        for ws, codec, count, payload in _split_blocks(fs, path, 0, 1 << 62)
    )


def _write_blocks(
    blocks, out_fs, tmp: str, schema: Any, codec: str, block_records: int,
    block_bytes: int | None,
) -> int:
    """Write source ``blocks`` (as :func:`_split_blocks` yields them) into
    a new container at ``tmp``; returns the records written. Opens no file
    until the first block."""
    out_form = ac.parsing_canonical_form(schema)
    reencode = None
    last_ws, same = None, False
    n = 0
    stream = writer = None
    try:
        for ws, src_codec, count, payload in blocks:
            raw = ac._decompress(src_codec, payload)  # checks a snappy CRC
            if not count:
                # nothing to write; decode_block still rejects a payload
                # that holds bytes its zero count does not account for
                next(ac.decode_block(raw, 0, ws, schema), None)
                continue
            if writer is None:
                stream = out_fs.open_output_stream(tmp)
                writer = ac.ContainerWriter(
                    stream, schema, codec=codec, block_records=block_records,
                    block_bytes=block_bytes,
                )
            if ws is not last_ws:  # a new source file
                last_ws, same = ws, ac.parsing_canonical_form(ws) == out_form
            n += count
            if same:
                writer.append_encoded(raw, count)
            else:
                reencode = reencode or _reencoder(schema)
                for rec in ac.decode_block(raw, count, ws, schema):
                    writer.append(reencode(rec))
        if writer is not None:
            writer.close()
    finally:
        if stream is not None:
            stream.close()
    return n


def _reencoder(schema: Any):
    """Codec-decoded record → the value the DataFrame round trip of the
    record path would encode: multi-branch unions keep the branch their
    value's class selects (see :func:`_decoded_converter`)."""
    dec, enc = _decoded_converter(schema), _encode_converter(schema)
    if dec is None:  # no multi-branch union anywhere: both are identity
        return lambda rec: rec
    return lambda rec: enc(dec(rec))


def _write_avro_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    schema: str | dict | None = None,
    codec: str = "snappy",
    block_records: int = 4096,
    mode: str = "append",
    block_bytes: int | None = None,
) -> int:
    """Hive-layout dynamic-partition avro sink (see write_avro_folder).

    Scale posture: fully distributed — no driver-side per-leaf loop. Each
    task groups its Arrow batches by partition tuple and streams one
    container file per (task, leaf); the same attempt-unique temp +
    rename-commit protocol as the flat sink, with the driver sweeping this
    run's leftover temps recursively afterwards."""
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns not in DataFrame: {missing}")
    data_fields = [f for f in df.schema.fields if f.name not in partition_by]
    if not data_fields:
        raise ValueError("partition_by consumes every column")
    data_schema = T.StructType(data_fields)
    avro_schema = (
        ac.parse_schema(schema)
        if schema is not None
        else struct_to_avro_record(data_schema)
    )
    fs, root = resolve_fs(path)
    import pyarrow.fs as pafs

    existing = _list_avro_files(fs, root, recursive=True)
    if existing and mode in ("error", "errorifexists"):
        raise FileExistsError(f"{path} already contains .avro files")
    if existing and mode == "overwrite":
        for info in existing:
            fs.delete_file(info.path)
    fs.create_dir(root, recursive=True)
    run_token = uuid.uuid4().hex[:12]
    pcols = list(partition_by)
    data_cols = [f.name for f in data_fields]
    u_conv = _encode_converter(avro_schema)

    out_schema = T.StructType(
        [T.StructField("file", T.StringType()), T.StructField("n", T.LongType())]
    )

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else os.getpid()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        # leaf rel-dir -> (writer, stream, tmp, final, n)
        open_files: dict[str, list] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for key, sub in pdf.groupby(pcols, dropna=False, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                rel = "/".join(
                    f"{c}={_hive_escape(v)}" for c, v in zip(pcols, key)
                )
                ent = open_files.get(rel)
                if ent is None:
                    leaf = f"{root}/{rel}"
                    fs.create_dir(leaf, recursive=True)
                    tmp = f"{leaf}/_tmp-{run_token}-a{attempt}-part-{pid:05d}.avro"
                    final = f"{leaf}/part-{pid:05d}-{run_token}.avro"
                    stream = fs.open_output_stream(tmp)
                    writer = ac.ContainerWriter(
                        stream, avro_schema, codec=codec,
                        block_records=block_records, block_bytes=block_bytes,
                    )
                    ent = open_files[rel] = [writer, stream, tmp, final, 0]
                for rec in _pandas_to_records(sub[data_cols], data_schema):
                    ent[0].append(u_conv(rec) if u_conv is not None else rec)
                    ent[4] += 1
        rows = {"file": [], "n": []}
        for writer, stream, tmp, final, n in open_files.values():
            writer.close()
            stream.close()
            # rename-commit; object-store caveat as in write_avro_folder
            fs.move(tmp, final)
            rows["file"].append(final)
            rows["n"].append(n)
        yield pd.DataFrame(rows)

    try:
        summary = df.mapInPandas(write_partition, out_schema).collect()
    finally:
        sel = pafs.FileSelector(root, recursive=True, allow_not_found=True)
        for info in fs.get_file_info(sel):
            if info.type == pafs.FileType.File and info.base_name.startswith(
                f"_tmp-{run_token}-"
            ):
                fs.delete_file(info.path)
    return sum(1 for r in summary if r["file"])


def _pandas_to_records(pdf: pd.DataFrame, schema: T.StructType) -> Iterator[dict]:
    cols = [f.name for f in schema.fields]
    convs = [_converter(f.dataType) for f in schema.fields]
    data = [pdf[c].tolist() for c in cols]
    for vals in zip(*data):
        yield {c: conv(v) for c, conv, v in zip(cols, convs, vals)}


def _converter(dt: T.DataType):
    import numpy as np

    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else float(v)
    if isinstance(dt, T.TimestampType):
        return lambda v: None if v is None or v is pd.NaT else (
            v.to_pydatetime() if isinstance(v, pd.Timestamp) else v
        )
    if isinstance(dt, T.DateType):
        return lambda v: None if v is None else (
            v.date() if isinstance(v, (pd.Timestamp, _dt.datetime)) else v
        )
    if isinstance(dt, T.BinaryType):
        return lambda v: None if v is None else bytes(v)
    if isinstance(dt, T.DecimalType):
        return lambda v: None if v is None else str(v)
    if isinstance(dt, T.ArrayType):
        inner = _converter(dt.elementType)
        return lambda v: None if v is None else [inner(x) for x in v]
    if isinstance(dt, T.MapType):
        inner = _converter(dt.valueType)
        return lambda v: None if v is None else {k: inner(x) for k, x in dict(v).items()}
    if isinstance(dt, T.StructType):
        fields = [(f.name, _converter(f.dataType)) for f in dt.fields]
        return lambda v: None if v is None else {
            n: c(v[n] if isinstance(v, dict) else getattr(v, n)) for n, c in fields
        }

    def generic(v):
        if v is None:
            return None
        if isinstance(v, np.generic):
            return v.item()
        return v

    return generic
