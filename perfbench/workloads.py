"""The two workloads and their output checks.

Each workload has a set-up phase (inputs, warm-up) and a timed window of
passes that runs until ``--seconds`` have elapsed and at least
``MIN_PASSES`` passes are done.
Every operation — warm-up included — is checked; an exception or a wrong
output is a failed operation, never skipped.

* ``query_mix``: one pass runs each of the workload's registry queries once
  (builder call, then ``collect``), in a fixed order. Outputs are compared
  with the DuckDB-oracle results in ``expected/``.
* ``avro_compact``: one pass compacts a seeded hive-partitioned folder of
  small Avro files with ``plans.compact.compact`` into a fresh target, then
  runs a read-back aggregate over the output with ``read_avro_folder``.
"""

from __future__ import annotations

import functools
import gzip
import importlib.util
import json
import math
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import fixtures
import layers

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent

# One query per registry module the workload measures: a six-table join
# (relational), the streaming batch equivalent (batch_equiv), and the LLM
# queries of the dedup, similarity and text modules. The order is fixed:
# moving text_quality or sim_cosine_topk ahead of a dedup query shifts the
# dedup time by about a tenth. The tables are fixed, so this workload's
# inputs do not depend on the seed.
QUERY_WORKLOADS = {
    "query_mix": (
        "q05_local_supplier_volume",
        "ev_tumbling_1h",
        "dedup_ngram_jaccard",
        "sim_cosine_topk",
        "text_quality",
    ),
}

# Scale of the query tables: timed runs, and the smoke test.
SCALES = {"full": 0.01, "tiny": 0.001}

# Avro source shape: leaves x files x records. Compaction writes
# OUT_FILES_PER_LEAF files per leaf. One pass is one compaction followed by
# its read-back scan.
AVRO_SOURCE = {"full": (3, 6, 400), "tiny": (1, 3, 50)}
OUT_FILES_PER_LEAF = 2

MODULES = ("relational", "batch_equiv", "dedup", "similarity", "text")

# Timed passes per run, at least. The first pass after the warm-up is still
# a little slower (the JIT keeps compiling), so a window of whole passes
# bounded by time alone would time one pass on a slow host and two on a
# fast one, and mix that into the spread.
MIN_PASSES = 2


@functools.cache
def check_oracle():
    """``tools/check_oracle.py`` holds the oracle comparator (normalize and
    the Spark/Arrow type classes); load it by path, ``tools`` is no package."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def load_expected(sf: float) -> dict:
    path = BENCH_DIR / "expected" / f"sf{sf}.json.gz"
    with gzip.open(path, "rt", encoding="utf-8") as fh:
        data = json.load(fh)
    if data["generator_version"] != fixtures.GENERATOR_VERSION:
        raise RuntimeError(f"{path} is stale: run perfbench/make_expected.py")
    return data["queries"]


def compare_query(expected: dict, df, rows) -> str | None:
    """None if the output matches the oracle result, else why not — the same
    checks as ``check_oracle.compare``: column names, type classes, row
    count, then normalized values."""
    co = check_oracle()
    cols = df.columns
    if sorted(cols) != sorted(expected["columns"]):
        return f"columns {sorted(cols)} != {sorted(expected['columns'])}"
    for f in df.schema.fields:
        sc = co._spark_class(f.dataType)
        dc = expected["classes"].get(f.name)
        if dc is not None and not co._class_compat(sc, dc):
            return f"type of {f.name}: {sc} != {dc}"
    got = [repr(r) for r in co.normalize([tuple(r) for r in rows], cols)]
    want = expected["rows"]
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    bad = sum(a != b for a, b in zip(got, want))
    return f"{bad}/{len(want)} rows differ" if bad else None


@dataclass
class Bench:
    """State of one run."""

    spark: object
    workload: str
    seed: int
    seconds: float
    work: Path
    cores: int
    tracer: layers.Tracer | None = None
    smoke: bool = False  # time the tiny inputs instead of the full ones
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    ops: list[dict] = field(default_factory=list)  # timed operations
    passes: int = 0
    window_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def sc(self):
        return self.spark.sparkContext

    @property
    def timed_scale(self) -> str:
        return "tiny" if self.smoke else "full"

    def enter(self, pass_label: str, op: str, phase: str, module: str = "") -> None:
        self.sc.setJobGroup(layers.job_group(pass_label, op, phase), op)
        if self.tracer is not None:
            self.tracer.pass_label, self.tracer.op = pass_label, op
            self.tracer.op_module = module

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {why}"[:500])

    def run_window(self, one_pass) -> None:
        """Closed loop, one client: passes until ``seconds`` have elapsed
        and ``MIN_PASSES`` are done."""
        t0 = time.perf_counter()
        while True:
            label = str(self.passes)
            one_pass(label)
            self.passes += 1
            if self.tracer is not None:
                # marks the end of the pass in the event log (retained blocks)
                self.enter(label, "end", "mark")
                self.sc.parallelize([0], 1).count()
            if self.passes >= MIN_PASSES and time.perf_counter() - t0 >= self.seconds:
                break
        self.window_s = time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------

def run_query(b: Bench, spec, sf_dir: str, expected: dict, pass_label: str,
              fingerprint: bool) -> dict:
    name = spec.name
    module = spec.builder.__module__.rsplit(".", 1)[-1]
    rec = {"op": name, "module": module, "pass": pass_label}
    b.attempted += 1
    b.enter(pass_label, name, "build", module)
    t0 = time.perf_counter()
    try:
        df = spec.builder(b.spark, sf_dir)
        t1 = time.perf_counter()
        b.enter(pass_label, name, "collect", module)
        rows = df.collect()
        t2 = time.perf_counter()
    except Exception as exc:
        rec.update(wall_s=time.perf_counter() - t0, ok=False)
        b.fail(name, repr(exc))
        return rec
    finally:
        if b.tracer is not None:
            b.tracer.op_module = ""
    rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0, rows=len(rows))
    why = compare_query(expected[name], df, rows)
    rec["ok"] = why is None
    if why:
        b.fail(name, why)
    if fingerprint:
        rec["plan"] = layers.plan_fingerprint(layers.executed_plan(df), str(b.work))
    return rec


def query_workload(b: Bench, setup_done) -> None:
    """A warm-up pass, then the timed passes, all on the same tables. The
    warm-up takes every query's first-run costs (the first job, code
    generation, JIT, the Python workers' start) out of the timed passes."""
    from spark_dba_spark import registry

    t0 = time.perf_counter()
    specs = registry.all_specs()
    sf = SCALES[b.timed_scale]
    data = str(fixtures.write_tables(b.work / f"sf{sf}", sf))
    expected = load_expected(sf)
    t1 = time.perf_counter()

    def one_pass(label: str) -> list[dict]:
        return [run_query(b, specs[name], data, expected, label, fingerprint=label == "0")
                for name in QUERY_WORKLOADS[b.workload]]

    one_pass("w")
    b.extra.update(inputs_s=t1 - t0, warm_s=time.perf_counter() - t1)
    setup_done()
    b.run_window(lambda label: b.ops.extend(one_pass(label)))


# ---------------------------------------------------------------------------
# Avro compaction
# ---------------------------------------------------------------------------

def _avro_bytes(folder: Path) -> int:
    return sum(p.stat().st_size for p in folder.rglob("*.avro"))


def compact_once(b: Bench, src: Path, target: Path, n_leaves: int, pass_label: str) -> dict:
    from spark_dba_spark.plans.compact import CompactionParams, compact

    rec = {"op": "compact", "module": "compact", "pass": pass_label}
    b.attempted += 1
    b.enter(pass_label, "compact", "compact")
    params = CompactionParams(
        source=str(src), target=str(target), fmt="avro",
        file_count=OUT_FILES_PER_LEAF, max_parallel=b.cores,
    )
    if b.tracer is not None:
        b.tracer.verify_root = str(target)
    t0 = time.perf_counter()
    try:
        res = compact(b.spark, params)
    except Exception as exc:
        rec.update(wall_s=time.perf_counter() - t0, ok=False)
        b.fail("compact", repr(exc))
        return rec
    finally:
        if b.tracer is not None:
            b.tracer.verify_root = None
    rec["wall_s"] = time.perf_counter() - t0
    statuses = dict(res.partitions)
    rec["leaves"] = len(statuses)
    rec["leaves_ok"] = sum(s == "SUCCESS" for s in statuses.values())
    problems = [f"{k}={v}" for k, v in statuses.items() if v != "SUCCESS"]
    if len(statuses) != n_leaves:
        problems.append(f"{len(statuses)} leaves compacted != {n_leaves}")
    if not res.success:
        problems.append("success=False: " + "; ".join(res.errors)[:200])
    for leaf in target.glob("*=*"):
        n_files = len(list(leaf.glob("*.avro")))
        if n_files != OUT_FILES_PER_LEAF:
            problems.append(f"{leaf.name}: {n_files} files != {OUT_FILES_PER_LEAF}")
    rec["bytes_out"] = _avro_bytes(target)
    rec["ok"] = not problems
    if problems:
        b.fail("compact", ", ".join(problems))
    return rec


def scan_once(b: Bench, target: Path, expected: dict, pass_label: str,
              fingerprint: bool) -> dict:
    """Read-back aggregate over the compacted output: per leaf, the
    generator's record count and order-insensitive checksums."""
    from pyspark.sql import functions as F

    from spark_dba_spark.sources.avro_spark import read_avro_folder

    rec = {"op": "scan", "module": "avro_spark", "pass": pass_label}
    b.attempted += 1
    b.enter(pass_label, "scan", "scan")
    if b.tracer is not None:
        b.tracer.read_kind = "scan"
    t0 = time.perf_counter()
    try:
        df = read_avro_folder(b.spark, str(target), recursive=True).groupBy("region").agg(
            F.count("*").alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("qty").alias("sum_qty"),
            F.sum("amount").alias("sum_amount"),
            F.sum("score").alias("sum_score"),
            F.sum(F.col("tag").isNull().cast("long")).alias("n_tag_null"),
            F.sum(F.length("user")).alias("sum_user_len"),
        )
        rows = df.collect()
    except Exception as exc:
        rec.update(wall_s=time.perf_counter() - t0, ok=False)
        b.fail("scan", repr(exc))
        return rec
    finally:
        if b.tracer is not None:
            b.tracer.read_kind = None
    rec["wall_s"] = time.perf_counter() - t0
    got = {str(r["region"]): r.asDict() for r in rows}
    rec["ok"] = got.keys() == expected.keys() and all(
        got[leaf].get(k) is not None
        and math.isclose(got[leaf][k], v, rel_tol=1e-12, abs_tol=1e-6)
        for leaf, want in expected.items() for k, v in want.items()
    )
    if not rec["ok"]:
        b.fail("scan", f"read-back checksums differ: {got} != {expected}")
    if fingerprint:
        rec["plan"] = layers.plan_fingerprint(layers.executed_plan(df), str(b.work))
    return rec


def compaction_cycle(b: Bench, src: Path, expected: dict, bytes_in: int,
                     label: str) -> list[dict]:
    """compact() into a fresh target, then the read-back scan of it."""
    target = b.work / f"out_{label}"
    recs = [compact_once(b, src, target, len(expected), label)]
    recs[0]["bytes_in"] = bytes_in
    if recs[0].get("ok"):
        recs.append(scan_once(b, target, expected, label, fingerprint=label == "0"))
    shutil.rmtree(target, ignore_errors=True)
    return recs


def avro_workload(b: Bench, setup_done) -> None:
    t0 = time.perf_counter()
    sources = {}
    for k in sorted({"tiny", b.timed_scale}):
        src = b.work / f"avro_{k}"
        sources[k] = (src, *fixtures.write_avro_source(src, b.seed, *AVRO_SOURCE[k]))
    t1 = time.perf_counter()
    compaction_cycle(b, *sources["tiny"], "w")
    src, expected, bytes_in = sources[b.timed_scale]
    b.extra.update(inputs_s=t1 - t0, warm_s=time.perf_counter() - t1, bytes_in=bytes_in)
    setup_done()

    b.run_window(lambda label: b.ops.extend(
        compaction_cycle(b, src, expected, bytes_in, label)))
    if b.tracer is not None:
        b.attempted += 1
        try:
            b.extra["codec"] = codec_throughput(src)
        except Exception as exc:  # counted, never swallowed
            b.fail("avro_codec", repr(exc))


def codec_throughput(src: Path) -> dict:
    """Driver-side ``avro_codec`` speed over this run's own source files:
    decode MB/s over the container bytes, encode MB/s over the bytes the
    encoder produces (snappy, one container per source file)."""
    from spark_dba_spark.sources import avro_codec as ac

    files = sorted(src.rglob("*.avro"))
    blobs = [p.read_bytes() for p in files]
    t0 = time.perf_counter()
    decoded = [list(ac.read_container(blob, fixtures.SCHEMA_V2)) for blob in blobs]
    t_dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    out = sum(len(ac.write_container(recs, fixtures.SCHEMA_V2, "snappy")) for recs in decoded)
    t_enc = time.perf_counter() - t0
    mb_in = sum(len(x) for x in blobs) / 2**20
    return {"decode_mb_per_s": mb_in / t_dec, "encode_mb_per_s": out / 2**20 / t_enc}


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def op_medians(b: Bench, key: str = "wall_s") -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for r in b.ops:
        if key in r:
            by_op.setdefault(r["op"], []).append(r[key])
    return {op: _median(xs) for op, xs in by_op.items()}


def pass_seconds(b: Bench) -> float:
    """One pass: the sum over the workload's operations of each one's median
    wall time over the timed passes."""
    return sum(op_medians(b).values())


def end_to_end(b: Bench, setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "pass_s": pass_seconds(b)}


def per_layer(b: Bench, folded: dict | None, peak_rss_mb: float,
              overhead_pct: float) -> dict[str, float]:
    t = b.tracer
    n = max(1, b.passes)
    timed = {str(i) for i in range(b.passes)}

    def per_pass(metric: str) -> float:
        return t.total(metric, timed) / n if t is not None else 0.0

    m: dict[str, float] = {
        "session.ensure_calls": per_pass("session.ensure_calls"),
        "session.ensure_s": per_pass("session.ensure_s"),
        "catalog.load_calls": per_pass("catalog.load_calls"),
        "catalog.load_s": per_pass("catalog.load_s"),
        "catalog.insurance_shuffles": per_pass("catalog.insurance_shuffles"),
    }
    loads = m["catalog.load_calls"]
    m["catalog.memo_hit_ratio"] = per_pass("catalog.memo_hits") / loads if loads else 0.0

    groups = (folded or {}).get("groups", {})
    timed_groups = {}
    for g, v in groups.items():
        parsed = layers.parse_group(g)
        if parsed and parsed[0] in timed:
            timed_groups[parsed] = v

    def gsum(key: str, pred=lambda p: True) -> float:
        return sum(v.get(key, 0) for p, v in timed_groups.items() if pred(p))

    build = op_medians(b, "build_s")
    collect = op_medians(b, "collect_s")
    rows = op_medians(b, "rows")
    op_module = {r["op"]: r["module"] for r in b.ops}
    for mod in MODULES:
        ops = [op for op, mo in op_module.items() if mo == mod]
        m[f"{mod}.build_s"] = sum(build.get(op, 0.0) for op in ops)
        m[f"{mod}.build_jobs"] = gsum("jobs", lambda p: p[1] in ops and p[2] == "build") / n
        m[f"{mod}.collect_s"] = sum(collect.get(op, 0.0) for op in ops)
        m[f"{mod}.result_rows"] = sum(rows.get(op, 0.0) for op in ops)
    m["similarity.broadcasts"] = per_pass("similarity.broadcasts")

    task_s = gsum("task_ms") / 1000
    m.update({
        "spark.jobs": gsum("jobs") / n,
        "spark.stages": gsum("stages") / n,
        "spark.tasks": gsum("tasks") / n,
        "spark.task_s": task_s / n,
        "spark.task_cpu_s": gsum("cpu_ns") / 1e9 / n,
        "spark.sched_wait_s": gsum("sched_ms") / 1000 / n,
        "spark.gc_s": gsum("gc_ms") / 1000 / n,
        "spark.shuffle_read_mb": gsum("shuffle_read_b") / 2**20 / n,
        "spark.shuffle_write_mb": gsum("shuffle_write_b") / 2**20 / n,
        "spark.spill_mb": gsum("spill_b") / 2**20 / n,
        "spark.peak_exec_mem_mb": max(
            [v.get("peak_exec_b", 0) for v in timed_groups.values()] or [0]
        ) / 2**20,
        "spark.core_util": task_s / (b.window_s * b.cores) if b.window_s else 0.0,
        "spark.retained_block_mb": max(
            [mb for p, mb in (folded or {}).get("retained_mb", {}).items() if p in timed] or [0.0]
        ),
        "py.tasks": gsum("py_tasks") / n,
        "py.task_s": gsum("py_task_ms") / 1000 / n,
    })

    compacts = [r for r in b.ops if r["op"] == "compact"]
    scans = [r for r in b.ops if r["op"] == "scan"]
    leaves = sum(r.get("leaves", 0) for r in compacts)
    codec = b.extra.get("codec", {})
    m.update({
        "avro_spark.read_calls": per_pass("avro_spark.read_calls"),
        "avro_spark.read_s": per_pass("avro_spark.read_plan_s") + per_pass("avro_spark.read_count_s"),
        "avro_spark.read_tasks": gsum("tasks", lambda p: p[2] == "read") / n,
        "avro_spark.write_s": per_pass("avro_spark.write_s"),
        "avro_spark.files_written": per_pass("avro_spark.files_written"),
        "avro_codec.decode_mb_per_s": codec.get("decode_mb_per_s", 0.0),
        "avro_codec.encode_mb_per_s": codec.get("encode_mb_per_s", 0.0),
        "fsops.calls": per_pass("fsops.calls"),
        "fsops.s": per_pass("fsops.s"),
        "compact.verify_s": per_pass("avro_spark.verify_plan_s") + per_pass("avro_spark.verify_count_s"),
        "compact.leaf_success_ratio": (
            sum(r.get("leaves_ok", 0) for r in compacts) / leaves if leaves else 0.0
        ),
        "compact.call_s": _median([r["wall_s"] for r in compacts]),
        "compact.scan_s": _median([r["wall_s"] for r in scans]),
        "compact.bytes_out_per_byte_in": _median(
            [r["bytes_out"] / r["bytes_in"] for r in compacts if r.get("bytes_out")]
        ),
        "proc.peak_rss_mb": peak_rss_mb,
        "trace.overhead_pct": overhead_pct,
        "bench.failed_ops": b.failed / max(1, b.attempted),
    })
    return m
