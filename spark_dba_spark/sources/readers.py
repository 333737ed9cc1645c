"""Format-generic readers/writers (the engine's source/sink layer).

Wraps DataFrameReader/Writer with the engine's conventions: explicit-schema
or latest-file schema resolution (the reference's ladder, §1.3), recursive
folder scans (`FileInputFormat.setInputDirRecursive` parity,
DefragmentAvroFolder.scala:217-218), and scale-aware write knobs
(`maxRecordsPerFile`, `partitionBy`, compression).

Avro note: the reference is Avro-native; Spark's avro source lives in the
external spark-avro module which is not on this container's classpath, so
``fmt="avro"`` routes through the engine's own container codec
(:mod:`spark_dba_spark.sources.avro_spark` — binaryFile scan + mapInPandas
decode, one container file per partition on write, reader-schema
evolution). On a cluster with spark-avro installed the built-in source is a
drop-in alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import ensure_session_invariants


def schema_from_ddl(ddl: str) -> T.StructType:
    return T.StructType.fromDDL(ddl)


def read_folder(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    recursive: bool = True,
    **options,
) -> DataFrame:
    """Scan a folder of data files into a DataFrame (D1 parity —
    DefragmentAvroFolder.scala:267-272 — as a declarative source)."""
    ensure_session_invariants(spark)
    if fmt == "avro":
        from .avro_spark import read_avro_folder, struct_to_avro_record

        if isinstance(schema, str) and not schema.lstrip().startswith("{"):
            schema = schema_from_ddl(schema)
        if isinstance(schema, T.StructType):
            schema = struct_to_avro_record(schema)
        return read_avro_folder(spark, path, reader_schema=schema, recursive=recursive)
    reader = spark.read.format(fmt)
    if isinstance(schema, str):
        schema = schema_from_ddl(schema)
    if schema is not None:
        reader = reader.schema(schema)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    return read_folder(
        spark, path, fmt="csv", schema=schema,
        header=str(header).lower(), **options,
    )


def json_infer_roundtrip(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Record→JSON map + schema-inferred re-read — D6 parity with the
    reference's TemplateApp (`TemplateApp.scala:62-64`: avro record →
    JSON string → sqlContext.read.json → inferred schema)."""
    return spark.read.json(df.toJSON())


def write_folder(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    file_count: int | None = None,
    **options,
) -> None:
    """Sink with the compaction-relevant knobs (D5 parity). Prefer
    ``max_records_per_file`` (size-based, skew-proof) over ``file_count``
    (exact coalesce, the reference's knob) at scale."""
    if file_count is not None:
        df = df.coalesce(file_count)
    if fmt == "avro":
        from .avro_spark import write_avro_folder

        if max_records_per_file is not None:
            # approximate with an exact row-count coalesce upstream instead
            raise NotImplementedError(
                "max_records_per_file is not supported by the avro sink; "
                "use file_count"
            )
        write_avro_folder(
            df, path, codec=compression, mode=mode, partition_by=partition_by
        )
        return
    writer = df.write.format(fmt).mode(mode).option("compression", compression)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)
