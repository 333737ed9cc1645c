"""Layered benchmark of the engine: one workload per run, one process.

    python3 perfbench/run.py --workload {query_mix,avro_compact}
        --seed N --seconds S --trace {0,1}

Runs from the repository root on ``local[nproc]``. Set-up (session start,
input generation, warm-up) is timed as ``setup_s``; then passes over the
workload run until ``--seconds`` have elapsed. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with ``--trace
0``, its per-layer metrics with ``--trace 1`` (Spark event log on, layer
functions wrapped). Every run also writes a full artifact (environment,
plan fingerprints, per-operation samples, per-job-group engine figures) to
``.perfbench/artifacts/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
STATE = ROOT / ".perfbench"
DRIVER_MEMORY = "4g"
# The JVM's class-data archive: written by the first run in a checkout, read
# by the later ones. It takes about 9 s of class loading out of each JVM
# start on a 4-vCPU VM; it changes nothing the engine does.
CLASS_ARCHIVE = STATE / "classes.jsa"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "avro_compact"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="time the tiny inputs (sf0.001, a 3-file Avro leaf)")
    return ap.parse_args(argv)


def preflight() -> str | None:
    """The benchmark measures the engine in this checkout; without it (or
    without the oracle comparator it reuses) there is nothing to run."""
    for rel in ("BENCHMARK.json", "spark_dba_spark/__init__.py", "tools/check_oracle.py"):
        if not (ROOT / rel).is_file():
            return f"{rel} not found under {ROOT}"
    return None


def configure_env(work: Path, trace: bool) -> None:
    """Keep every file Spark writes inside the run's work directory, make
    the engine importable by Python workers, use or write the class-data
    archive, and turn the event log on for the traced run. Must run before
    the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # An empty conf dir at a fixed path: no host spark-defaults.conf, and the
    # JVM shares classes only when its class path is the one the archive was
    # written with and no directory on it has files in it.
    conf_dir = STATE / "conf"
    conf_dir.mkdir(exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.logBlockUpdates.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # -XX:TieredStopAtLevel=1: C1 only. A run's JVM lives about half a minute; with
    # C2 the JIT keeps up to 3 of 4 vCPUs busy for its first ~45 s and each
    # pass gets faster for nine passes (6.8 s to 3.7 s on query_mix), so two
    # timed passes would measure how far the JIT got. With C1 alone the first
    # timed pass is already within a tenth of the later ones.
    # JVM warnings go to stderr, so the result stays the last stdout line.
    java = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
            "-Xlog:disable", "-Xlog:all=warning:stderr"]
    if CLASS_ARCHIVE.is_file():
        java.append(f"-XX:SharedArchiveFile={CLASS_ARCHIVE}")
    else:
        java.append(f"-XX:ArchiveClassesAtExit={work / CLASS_ARCHIVE.name}")
    args = ["--driver-java-options", shlex.join(java)]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def stop_spark(spark) -> int | None:
    """Stop the session, then the JVM, and wait for it to exit (a JVM that
    writes the class-data archive takes a while). Returns its exit code."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return None
    try:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        return proc.wait(timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()
        return None


def keep_class_archive(work: Path, jvm_exit: int | None) -> None:
    """Install the archive this run's JVM wrote, if it exited cleanly."""
    written = work / CLASS_ARCHIVE.name
    if jvm_exit == 0 and written.is_file() and not CLASS_ARCHIVE.exists():
        os.replace(written, CLASS_ARCHIVE)


def _git_head() -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "spark_dba_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def env_stamp(spark, cores: int) -> dict:
    import duckdb
    import pyarrow

    sc = spark.sparkContext
    return {
        "nproc": cores,
        "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_head": _git_head(),
        "source_digest": _source_digest(),
        "confs": {
            k: spark.conf.get(k, None)
            for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                      "spark.driver.memory")
        },
    }


def untraced_reference(workload: str) -> float | None:
    """Median ``pass_s`` of this checkout's untraced runs of the workload."""
    xs = []
    for p in (STATE / "artifacts").glob(f"{workload}-s*-t0.json"):
        try:
            xs.append(json.loads(p.read_text())["end_to_end"]["pass_s"])
        except (OSError, ValueError, KeyError):
            continue
    return statistics.median(xs) if xs else None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    why = preflight()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    cores = len(os.sched_getaffinity(0))
    work = STATE / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))
    sys.path[:0] = [str(BENCH_DIR), str(ROOT)]
    import layers
    import workloads

    load_before = layers.loadavg()
    sampler = layers.RssSampler() if args.trace else None
    if sampler is not None:
        sampler.start()
    setup: dict[str, float] = {}
    spark = None
    try:
        from spark_dba_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores,
                          driver_memory=DRIVER_MEMORY)
        session_s = time.perf_counter() - t0
        tracer = layers.Tracer(spark.sparkContext) if args.trace else None
        if tracer is not None:
            tracer.install()
        b = workloads.Bench(spark, args.workload, args.seed, args.seconds, work,
                            cores, tracer, smoke=args.smoke)
        b.extra.update(imports_s=t0 - T_START, session_s=session_s)
        run = (workloads.query_workload if args.workload in workloads.QUERY_WORKLOADS
               else workloads.avro_workload)
        run(b, lambda: setup.setdefault("s", time.perf_counter() - T_START))
        env = env_stamp(spark, cores)
    finally:
        if spark is not None:
            keep_class_archive(work, stop_spark(spark))

    folded = None
    if args.trace:
        log = layers.find_event_log(work / "eventlog")
        folded = layers.fold_event_log(log) if log else None
    peak_rss = sampler.stop() if sampler is not None else 0.0

    e2e = workloads.end_to_end(b, setup["s"])
    if args.trace:
        ref = untraced_reference(args.workload)
        overhead = 100.0 * (e2e["pass_s"] / ref - 1.0) if ref else 0.0
        computed = workloads.per_layer(b, folded, peak_rss, overhead)
    else:
        computed = e2e
    metrics = {name: {"value": computed[name], "unit": unit} for name, unit in units.items()}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        "loadavg_before": load_before, "loadavg_after": layers.loadavg(),
        "setup_s": setup["s"], "passes": b.passes, "window_s": b.window_s,
        "attempted": b.attempted, "failed": b.failed, "errors": b.errors,
        "end_to_end": e2e, "metrics": computed,
        "plans": {r["op"]: r["plan"] for r in b.ops if "plan" in r},
        "ops": b.ops, "extra": b.extra,
        "event_log_groups": (folded or {}).get("groups"),
        "spans": b.tracer.spans if b.tracer is not None else None,
    }
    out_dir = STATE / "artifacts"
    out_dir.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}{'-smoke' if args.smoke else ''}.json"
    (out_dir / name).write_text(json.dumps(artifact, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)
    layers.wait_for_descendants()

    for err in b.errors[:10]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
