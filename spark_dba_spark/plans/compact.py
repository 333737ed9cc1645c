"""Small-files compaction job — full parity with the reference's
`DefragmentAvroFolder` (the reference's one complete feature), re-expressed
format-generically on the DataFrame reader/writer.

Semantics preserved from the reference (SURVEY.md §2.3, citations into
/root/reference/src/com/guptam/spark/dba/defragment/DefragmentAvroFolder.scala):

  C1  root preflight validation                 (:146-181)
  C2  per-partition preflight (≥2 files)        (:115-139)
  §1.3 schema ladder: explicit file → latest-modified file → per-file
                                                (:83-107)
  C3  staged write to tmp/_tmp_<session>        (:183-204)
  C4  optimistic concurrency: source snapshot after scan, recheck before
      commit; mismatch aborts the swap          (:276, :301-321)
  C5  trash-then-swap commit (recoverable)      (:305-318)
  C6  session tmp cleanup only if zero errors   (:400-409)
  C7  audit log flush to target/.defraglog      (:413-417)
  C8  per-partition error isolation             (:386-392)
  D7  per-partition parallel orchestration      (:384-393)

Plus the reference's "In Progress" feature (README.md:21): dynamic file
count = ceil(total_bytes / target_file_bytes) when --file-count is omitted.

Spark-first notes: an Avro leaf without ``sort_by``/``zorder_by`` is
compacted in ONE Spark job of fused read+write tasks: the reader packs the
leaf's files into exactly ``n_out`` byte-balanced bins, and each task copies
its bin's container blocks into one output file (blocks whose writer schema
matches the output are appended undecoded; others are decoded with schema
resolution and re-encoded), so records never pass through JVM rows, a
cache, or a separate count job — the source record count is the sum of the
copied blocks' header counts. The D4 verify runs inside the same tasks:
each reopens the file it just committed and decodes every record against
the output schema, and the driver compares the decoded total with the
source count and checks that the staged folder lists exactly the
committed files. That read-back is also the only record-level check of
the undecoded blocks, so with ``verify_counts=False`` a source block
whose header count disagrees with its payload is copied unnoticed. Every
other case (other formats, layout options, the ``binaryFile`` read
fallback) declares read→persist→count→coalesce→write with the DataFrame
API (no shuffle: coalesce is a narrow dependency, exactly like the
reference's RDD coalesce at :290); Avro there verifies by the same
in-task read-back, Parquet and ORC by a Spark count of the staged
folder. Schema evolution falls out of passing a reader schema (missing
columns → defaults or null, extra columns → dropped). At cluster scale
the only changes are the tmp/trash locations (same filesystem as target
for atomic rename) and `max_parallel` (how many partition compactions
run concurrently against the scheduler).
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..session import ensure_session_invariants
from ..sources.fsops import FsOps, is_valid_data_file, unique_session_id
from .logger import AuditLogger

FORMAT_EXTENSIONS = {"parquet": "parquet", "avro": "avro", "orc": "orc"}


@dataclass
class CompactionParams:
    source: str
    target: str
    file_count: int | None = None  # None → dynamic sizing
    schema_file: str | None = None  # text file holding a Spark DDL schema
    overwrite: bool = False
    tmp_folder: str | None = None
    trash_folder: str | None = None
    fmt: str = "parquet"
    compression: str = "snappy"
    target_file_bytes: int = 128 * 1024 * 1024
    max_parallel: int = 4
    # D4. For avro, the write's own tasks decode each committed file back
    # (no extra job); False also skips the only decode of blocks the avro
    # block copy merges undecoded (see the module notes).
    verify_counts: bool = True
    # Extension beyond the reference: cluster rows inside each output file
    # so columnar min/max stats prune at read time (the compactor is the
    # natural place to fix data LAYOUT, not just file count). No shuffle:
    # sortWithinPartitions is a per-partition sort after the narrow coalesce.
    sort_by: tuple[str, ...] | None = None
    # Extension beyond the reference: Z-order (Morton) clustering of the
    # output layout — row groups get tight min/max ranges on EVERY listed
    # column at once, so columnar stats prune scans on any of them.
    # Mutually exclusive with sort_by (which clusters on one sort order).
    zorder_by: tuple[str, ...] | None = None
    # Preflight-only: validate, discover leaves, report per-partition file
    # stats and planned output file counts — write nothing.
    dry_run: bool = False
    # Selective compaction (100 TB posture): only process leaves whose
    # actual file count is ≥ this multiple of the PLANNED output count
    # (dynamic sizing or --fileCount); other leaves are skipped untouched.
    # Job cost then scales with the fragmented debris, not the tree size —
    # the partition-pruned flavor of the reference's dynamic-sizing idea
    # (README.md:21). None → compact every leaf (reference behavior).
    min_fragmentation: float | None = None

    @property
    def ext(self) -> str:
        return FORMAT_EXTENSIONS[self.fmt]


@dataclass
class CompactionResult:
    success: bool
    session_id: str
    partitions: dict[str, str] = field(default_factory=dict)  # rel path → status
    errors: list[str] = field(default_factory=list)
    log_lines: list[str] = field(default_factory=list)


def planned_file_count(params: "CompactionParams", total_bytes: int) -> int:
    """D3/"In Progress" dynamic sizing in ONE place: an explicit
    --file-count wins, else ceil(bytes / target file size) (README.md:21).
    Used by the selective-compaction filter, --dryRun, and the per-leaf
    writer so the sizing rule cannot drift between them."""
    return params.file_count or max(
        1, math.ceil(total_bytes / params.target_file_bytes)
    )


def resolve_schema(
    spark: SparkSession, fs: FsOps, params: CompactionParams, leaf: str
):
    """Schema ladder (§1.3): explicit schema file, else the latest-modified
    data file's embedded schema ('latest file will have latest schema'),
    else None → every file decoded with its own schema.

    For avro the explicit file is a ``.avsc`` JSON reader schema (exactly
    the reference's --avroSchema, DefragmentAvroFolder.scala:86-90) and the
    return value is an avro schema dict; for other formats the file holds a
    Spark DDL string and the return value is a StructType."""
    if params.schema_file:
        if not fs.is_file(params.schema_file):
            raise ValueError(f"schema file not found: {params.schema_file}")
        text = fs.read_text_file(params.schema_file)
        if params.fmt == "avro":
            from ..sources import avro_codec as ac

            return ac.parse_schema(text)
        return T.StructType.fromDDL(text)
    latest = fs.latest_modified_file(leaf, params.ext)
    if latest is not None:
        if params.fmt == "avro":
            from ..sources.avro_spark import latest_file_schema

            return latest_file_schema(spark, leaf, recursive=False)
        return spark.read.format(params.fmt).load(latest).schema
    return None


def _validate_root(fs: FsOps, params: CompactionParams) -> str | None:
    """C1 (:146-181)."""
    # Config contradictions fail ONCE here, before any leaf is read —
    # not per-leaf after a full scan+count.
    if params.sort_by and params.zorder_by:
        return "sort_by and zorder_by are mutually exclusive"
    if not fs.is_dir(params.source):
        return f"source folder does not exist or is not a directory: {params.source}"
    # Reference root check (:152): source must be a homogeneous data folder
    # (files-only leaf) or a partitioned root (dirs-only) — mixed or foreign
    # content is rejected before any Spark job starts.
    if not fs.is_valid_data_directory(params.source, params.ext):
        return (
            f"source is not a valid {params.ext} folder (mixed or foreign "
            f"content): {params.source}"
        )
    if fs.exists(params.target) and not params.overwrite:
        return f"target exists and overwrite is not set: {params.target}"
    if params.overwrite:
        if not params.tmp_folder or not fs.is_dir(params.tmp_folder):
            return "overwrite requires an existing tmp folder"
        if not params.trash_folder or not fs.is_dir(params.trash_folder):
            return "overwrite requires an existing trash folder"
    return None


def _process_partition(
    spark: SparkSession,
    fs: FsOps,
    params: CompactionParams,
    log: AuditLogger,
    session_id: str,
    rel: str,
) -> str:
    """One leaf folder end-to-end: validate → snapshot → write staged
    (:func:`_write_leaf`) → verify → snapshot recheck → (trash-swap)
    commit. Returns status."""
    thread = f"partition:{rel or '/'}"
    leaf = params.source.rstrip("/") + rel
    target_part = params.target.rstrip("/") + rel

    # C2: per-partition preflight (:115-139)
    if not fs.is_valid_data_directory(leaf, params.ext):
        log.error(f"invalid {params.fmt} directory: {leaf}", thread)
        return "INVALID_DIR"
    # C4 snapshot (:276), taken before anything reads the leaf; it is also
    # the one listing the file count and byte total come from.
    snapshot = fs.snapshot(leaf)
    data_files = [
        s for s in snapshot
        if not s.is_dir and is_valid_data_file(s.path, params.ext)
    ]
    n_files = len(data_files)
    if n_files < 2:
        log.error(f"nothing to merge (<2 files) in {leaf}", thread)
        return "TOO_FEW_FILES"

    schema = resolve_schema(spark, fs, params, leaf)

    # D3/"In Progress" dynamic sizing: ceil(bytes / target file size)
    total_bytes = sum(s.length for s in data_files)
    n_out = planned_file_count(params, total_bytes)

    # C3 staged write (:183-204): tmp when overwriting, else direct target.
    # The direct path is NOT atomic (same as the reference); a failed write
    # or verify below deletes the partial target so no stale output
    # survives either mode.
    if params.overwrite:
        staged = params.tmp_folder.rstrip("/") + f"/_tmp_{session_id}" + rel
    else:
        staged = target_part

    def _discard_staged(reason: str) -> None:
        # Leave no partial/stale output behind: in overwrite mode the staged
        # dir lives under the session tmp (cleaned by C6 policy), but the
        # direct-to-target path must be rolled back here.
        if not params.overwrite and fs.exists(staged):
            fs.delete(staged, recursive=True)
            log.info(f"rolled back direct-written target {staged} ({reason})", thread)

    try:
        written: dict = {}
        in_count = _write_leaf(
            spark, params, leaf, staged, schema, n_out, written
        )
        log.info(
            f"{leaf}: {n_files} files / {total_bytes} bytes / {in_count} records "
            f"→ {n_out} files",
            thread,
        )
        if params.verify_counts:
            err = _verify_output(spark, fs, params, staged, in_count, written)
            if err:
                log.error(err, thread)
                _discard_staged("verify failed")
                return "COUNT_MISMATCH"
    except Exception:
        _discard_staged("write or verify raised")
        raise

    # C4 recheck (:301): abort commit if the source changed under us
    if not FsOps.equals_snapshot(snapshot, fs.snapshot(leaf)):
        log.error(
            f"source changed during compaction, aborting merge for {leaf}",
            thread,
        )
        _discard_staged("source changed")
        return "SOURCE_CHANGED"

    # C5 trash-then-swap (:305-318)
    if params.overwrite:
        target_name = params.target.rstrip("/").rsplit("/", 1)[-1]
        if fs.exists(target_part):
            trash_dest = (
                params.trash_folder.rstrip("/")
                + f"/{target_name}_{session_id}"
                + rel
            )
            _mkparent(fs, trash_dest)
            if not fs.rename(target_part, trash_dest):
                log.error(f"failed to trash {target_part}", thread)
                return "TRASH_FAILED"
            log.info(f"moved previous target to trash: {trash_dest}", thread)
        _mkparent(fs, target_part)
        if not fs.rename(staged, target_part):
            log.error(f"failed to swap {staged} → {target_part}", thread)
            return "SWAP_FAILED"

    log.info(f"compacted {leaf} → {target_part} ({n_out} files)", thread)
    return "SUCCESS"


def _verify_output(
    spark: SparkSession, fs: FsOps, params: CompactionParams, staged: str,
    in_count: int, written: dict,
) -> str | None:
    """D4 (:292-293): the error when the staged output does not hold
    ``in_count`` records, else None. For avro the write's tasks already
    decoded each committed file back (``written``); the staged folder must
    then list exactly those files. Other formats count the staged folder
    with Spark."""
    if params.fmt == "avro":
        listed = {
            s.path.rsplit("/", 1)[-1] for s in fs.list_status(staged)
            if is_valid_data_file(s.path, params.ext)
        }
        committed = {f.rsplit("/", 1)[-1] for f in written["files"]}
        if listed != committed:
            return (
                f"{staged} lists {sorted(listed)}, but the write committed "
                f"{sorted(committed)}"
            )
        out_count = written["decoded"]
    else:
        out_count = spark.read.format(params.fmt).load(staged).count()
    if out_count != in_count:
        return f"record count mismatch {in_count} → {out_count} in {staged}"
    return None


def _write_leaf(
    spark: SparkSession, params: CompactionParams, leaf: str, staged: str,
    schema, n_out: int, written: dict,
) -> int:
    """Write ``leaf`` compacted into ``n_out`` files under ``staged`` and
    return the source's record count (D4). An avro write fills
    ``written`` with what :func:`write_avro_folder` reports, including,
    with ``verify_counts``, the records its tasks decoded back.

    Avro without a layout option is one job: the read's ``n_out`` bins are
    copied block by block, each into one output file, and the count comes
    from the copied blocks' headers. Everything else (other formats,
    ``sort_by``/``zorder_by``, the ``binaryFile`` read fallback) takes the
    record path: read, pin and count, coalesce, write."""
    if params.fmt == "avro":
        from ..sources.avro_spark import (
            has_block_scan,
            read_avro_folder,
            write_avro_folder,
        )

        df = read_avro_folder(
            spark, leaf, reader_schema=schema, recursive=False,
            partitions=n_out,
        )
        if has_block_scan(df) and not (params.sort_by or params.zorder_by):
            # the output schema is the scan's reader schema, so the sink
            # takes its block-copy path
            write_avro_folder(
                df, staged, schema=schema, codec=params.compression,
                stats=written, verify=params.verify_counts,
            )
            return written["records"]
    else:
        reader = spark.read.format(params.fmt)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(leaf)
    # D2 (:272): pin the scan so count + write share one pass over the
    # source — at scale an uncached frame doubles input I/O per partition.
    df = df.persist()
    try:
        in_count = df.count()  # D4 (:292-293)
        # coalesce is a narrow dependency, like the reference's RDD
        # coalesce at :290 — no shuffle.
        out_df = df.coalesce(n_out)
        if params.sort_by:
            out_df = out_df.sortWithinPartitions(*params.sort_by)
        elif params.zorder_by:
            from ..functions.layout import zorder_sort_within_partitions

            out_df = zorder_sort_within_partitions(
                out_df, list(params.zorder_by)
            )
        if params.fmt == "avro":
            # Own-codec avro sink: pyarrow.fs scheme dispatch (local/hdfs/
            # s3/registered) with a task-attempt commit protocol — no
            # spark-avro jar needed.
            write_avro_folder(
                out_df, staged, schema=schema, codec=params.compression,
                stats=written, verify=params.verify_counts,
            )
        else:
            (
                out_df.write.format(params.fmt)
                .option("compression", params.compression)
                .save(staged)
            )
    finally:
        df.unpersist()
    return in_count


def _mkparent(fs: FsOps, p: str) -> None:
    parent = p.rstrip("/").rsplit("/", 1)[0]
    if parent:
        fs.mkdirs(parent)


def compact(spark: SparkSession, params: CompactionParams) -> CompactionResult:
    """Run the compaction job (lifecycle mirrors run(), :333-426)."""
    ensure_session_invariants(spark)
    fs = FsOps(spark)
    log = AuditLogger()
    session_id = unique_session_id()
    log.header(f"compaction session {session_id}")
    log.header(
        f"source={params.source} target={params.target} fmt={params.fmt} "
        f"file_count={params.file_count or 'dynamic'} overwrite={params.overwrite}"
    )
    result = CompactionResult(success=False, session_id=session_id)

    err = _validate_root(fs, params)
    if err:
        log.error(err)
        result.errors.append(err)
        result.log_lines = log.render()
        return result

    leaves = fs.list_leaf_data_folders(params.source, params.ext)
    if not leaves:
        err = f"no {params.ext} data found under {params.source}"
        log.error(err)
        result.errors.append(err)
        result.log_lines = log.render()
        return result
    # M22: resolve both sides so qualified roots (file://, hdfs://nn) and
    # symlinks still yield correct partition-relative paths.
    rels = [fs.relative_partition(params.source, leaf) for leaf in leaves]
    log.info(f"found {len(rels)} leaf folder(s)")

    def _leaf_stats(rel: str) -> tuple[str, int, int]:
        leaf = params.source.rstrip("/") + rel
        return rel, fs.count_data_files(leaf, params.ext), fs.data_size(
            leaf, params.ext
        )

    def _all_leaf_stats() -> list[tuple[str, int, int]]:
        # Driver-side file listings in parallel (same thread pool width as
        # the partition jobs): on a 100 TB tree with thousands of leaves a
        # serial remote-listing loop, not the Spark work, dominates wall
        # time. ex.map preserves rels order → deterministic logs.
        with ThreadPoolExecutor(max_workers=params.max_parallel) as ex:
            return list(ex.map(_leaf_stats, rels))

    # Computed at most once per compact() call: the selective filter and a
    # dry-run report share the same remote listing (on a large tree the
    # listing, not Spark work, dominates — don't do it twice).
    leaf_stats: list[tuple[str, int, int]] | None = None

    if params.min_fragmentation is not None:
        kept: list[tuple[str, int, int]] = []
        for rel, n_files, total in _all_leaf_stats():
            leaf = params.source.rstrip("/") + rel
            planned = planned_file_count(params, total)
            ratio = n_files / planned
            if ratio >= params.min_fragmentation:
                kept.append((rel, n_files, total))
            else:
                log.info(
                    f"skipping {leaf}: {n_files} files vs planned {planned} "
                    f"(ratio {ratio:.2f} < {params.min_fragmentation})"
                )
                result.partitions[rel or "/"] = "SKIPPED_NOT_FRAGMENTED"
        log.info(
            f"selective compaction: {len(kept)}/{len(rels)} leaf folder(s) "
            f"exceed fragmentation {params.min_fragmentation}"
        )
        rels = [rel for rel, _, _ in kept]
        leaf_stats = kept

    if params.dry_run:
        for rel, n_files, total in (
            leaf_stats if leaf_stats is not None else _all_leaf_stats()
        ):
            leaf = params.source.rstrip("/") + rel
            n_out = planned_file_count(params, total)
            status = "WOULD_COMPACT" if n_files >= 2 else "TOO_FEW_FILES"
            log.info(
                f"[dry-run] {leaf}: {n_files} files / {total} bytes "
                f"→ {n_out} files ({status})"
            )
            result.partitions[rel or "/"] = status
        result.success = True
        result.log_lines = log.render()
        return result

    # D7: per-partition concurrency against one SparkSession — the Spark
    # scheduler is thread-safe; each partition is an independent job.
    def run_one(rel: str) -> None:
        try:
            status = _process_partition(
                spark, fs, params, log, session_id, rel
            )
        except Exception as exc:  # C8: isolate partition failures
            status = "EXCEPTION"
            log.error(f"partition {rel or '/'} failed: {exc!r}", f"partition:{rel or '/'}")
        result.partitions[rel or "/"] = status

    with ThreadPoolExecutor(max_workers=params.max_parallel) as pool:
        list(pool.map(run_one, rels))

    # C6: delete session tmp only if the whole run had zero errors (:400-409)
    if params.overwrite and params.tmp_folder:
        tmp_session = params.tmp_folder.rstrip("/") + f"/_tmp_{session_id}"
        if not log.has_errors:
            if fs.exists(tmp_session):
                fs.delete(tmp_session, recursive=True)
                log.info(f"cleaned session tmp {tmp_session}")
        else:
            log.info(f"errors present — keeping session tmp {tmp_session}")

    result.success = not log.has_errors
    result.errors = [line for line in log.render() if "\tERROR\t" in line]

    # C7: audit flush to target/.defraglog — even on failure (:413-417)
    try:
        if fs.exists(params.target):
            fs.write_text_file(
                params.target.rstrip("/") + "/.defraglog", log.render()
            )
    except Exception:
        pass  # audit flush must never mask the job outcome
    result.log_lines = log.render()
    return result


def compact_where(
    spark: SparkSession, params: CompactionParams, threshold: float
) -> CompactionResult:
    """Selective in-place maintenance: compact ONLY the leaves whose file
    count exceeds ``threshold ×`` their planned output count (see
    ``CompactionParams.min_fragmentation``). Intended for overwrite-mode
    runs over a live tree — healthy partitions are never read, staged, or
    swapped, so at 100 TB the job touches only the fragmented tail."""
    import dataclasses

    return compact(
        spark, dataclasses.replace(params, min_fragmentation=threshold)
    )


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's scopt interface (README.md:24-43)."""
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(
        prog="spark-dba-compact",
        description="Merge many small data files into fewer larger ones.",
    )
    ap.add_argument("--sourceFolder", "--avroFolder", dest="source", required=True)
    ap.add_argument("--targetFolder", dest="target", required=True)
    ap.add_argument("--fileCount", dest="file_count", type=int, default=None)
    ap.add_argument("--schema", "--avroSchema", dest="schema_file", default=None)
    ap.add_argument("--overwriteTarget", dest="overwrite", action="store_true")
    ap.add_argument("--tmpFolder", dest="tmp_folder", default=None)
    ap.add_argument("--trashFolder", dest="trash_folder", default=None)
    ap.add_argument("--format", dest="fmt", default="parquet")
    ap.add_argument("--dryRun", dest="dry_run", action="store_true")
    ap.add_argument(
        "--minFragmentation", dest="min_fragmentation", type=float,
        default=None,
        help="only compact leaves whose file count is >= this multiple of "
        "the planned output count (selective maintenance)",
    )
    ap.add_argument(
        "--sortBy", dest="sort_by", default=None,
        help="comma-separated columns to sort-cluster the output layout on",
    )
    ap.add_argument(
        "--zorderBy", dest="zorder_by", default=None,
        help="comma-separated columns to Z-order-cluster the output layout "
        "on (multi-column min/max pruning); mutually exclusive with sortBy",
    )
    # reference-parity flags (README.md:37-40):
    ap.add_argument(
        "--hadoopConfigPath", dest="hadoop_config", default=None,
        help="folder holding core-site.xml / hdfs-site.xml to add to the "
        "Hadoop configuration",
    )
    ap.add_argument(
        "--runningLocally", dest="running_locally", action="store_true",
        help="accepted for reference CLI parity; sessions here are already "
        "local[N] unless a cluster master is configured",
    )
    args = ap.parse_args(argv)

    spark = get_spark("spark-dba-compact")
    if args.hadoop_config:
        import os as _os

        hconf = spark._jsc.hadoopConfiguration()
        for f in ("core-site.xml", "hdfs-site.xml"):
            p = _os.path.join(args.hadoop_config, f)
            if _os.path.isfile(p):
                hconf.addResource(spark._jvm.org.apache.hadoop.fs.Path(p))
    params = {
        k: v
        for k, v in vars(args).items()
        if k not in ("hadoop_config", "running_locally")
    }
    for k in ("sort_by", "zorder_by"):
        if params.get(k):
            params[k] = tuple(c.strip() for c in params[k].split(","))
    res = compact(spark, CompactionParams(**params))
    for line in res.log_lines:
        print(line)
    return 0 if res.success else 1


if __name__ == "__main__":
    raise SystemExit(main())
