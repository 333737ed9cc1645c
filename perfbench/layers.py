"""Per-layer measurement for the traced run, taken from outside the engine.

* :class:`Tracer` wraps the public functions of the engine's layers
  (``session``, ``catalog``, ``sources.avro_spark``, ``sources.fsops``) by
  replacing every module-level reference to them, and counts
  ``spark.read.parquet`` and ``SparkContext.broadcast`` calls. Spans stay in
  memory; the caller writes them at exit.
* :func:`fold_event_log` folds Spark's own event log (task, stage, job and
  block-update records) into engine metrics per job group.
* :class:`RssSampler` samples the resident memory of this process and every
  descendant (the JVM and the Python workers) from ``/proc``.
* :func:`plan_fingerprint` hashes an executed plan with its expression and
  plan ids stripped, so two runs of the same plan hash the same.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

# Job groups are "pb:<pass>:<op>:<phase>"; pass "w" is set-up (warm-up).
GROUP_PREFIX = "pb"


def job_group(pass_label: str, op: str, phase: str) -> str:
    return f"{GROUP_PREFIX}:{pass_label}:{op}:{phase}"


def parse_group(group: str | None) -> tuple[str, str, str] | None:
    if not group or not group.startswith(GROUP_PREFIX + ":"):
        return None
    parts = group.split(":", 3)
    return (parts[1], parts[2], parts[3]) if len(parts) == 4 else None


class Tracer:
    """Wraps layer functions; records (metric, pass label, seconds) spans and
    counters keyed by (name, pass label)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.pass_label = "w"  # set by the workload before each pass
        self.op = ""
        self.op_module = ""
        # set during compact(): reads under this root are its verification
        self.verify_root: str | None = None
        # set during the read-back scan, which is not a compaction read
        self.read_kind: str | None = None
        self.spans: list[tuple[str, str, float]] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- bookkeeping ------------------------------------------------------
    def span(self, metric: str, seconds: float) -> None:
        with self._lock:
            self.spans.append((metric, self.pass_label, seconds))

    def count(self, metric: str, n: int = 1) -> None:
        with self._lock:
            self.counts[(metric, self.pass_label)] += n

    def total(self, metric: str, passes: set[str]) -> float:
        s = sum(dt for m, p, dt in self.spans if m == metric and p in passes)
        return s + sum(v for (m, p), v in self.counts.items() if m == metric and p in passes)

    def _depth(self, layer: str) -> int:
        return getattr(self._local, layer, 0)

    def _set_depth(self, layer: str, v: int) -> None:
        setattr(self._local, layer, v)

    # -- patching ---------------------------------------------------------
    def _replace_everywhere(self, orig, new) -> None:
        """Point every engine-module global bound to ``orig`` at ``new``
        (covers ``from .session import ensure_session_invariants``)."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith("spark_dba_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._restore.append((mod, attr, orig))

    def _timed(self, fn, layer: str, metric: str, calls_metric: str | None = None,
               on_result=None):
        tracer = self

        def wrapper(*args, **kwargs):
            depth = tracer._depth(layer)
            if calls_metric and depth == 0:
                tracer.count(calls_metric)
            tracer._set_depth(layer, depth + 1)
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kwargs)
            finally:
                tracer._set_depth(layer, depth)
            if depth == 0:
                tracer.span(metric, time.perf_counter() - t0)
            if on_result is not None:
                on_result(args, kwargs, res)
            return res

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        from pyspark import SparkContext
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        from spark_dba_spark import catalog, session
        from spark_dba_spark.sources import avro_spark, fsops

        tracer = self

        # session
        self._replace_everywhere(
            session.ensure_session_invariants,
            self._timed(session.ensure_session_invariants, "session",
                        "session.ensure_s", "session.ensure_calls"),
        )

        # catalog: a load that issues no new spark.read.parquet is a memo hit;
        # a load_par that returns something other than its load() result paid
        # the insurance repartition.
        orig_parquet = DataFrameReader.parquet

        def parquet(self_, *a, **k):
            tracer._local.parquet_reads = getattr(tracer._local, "parquet_reads", 0) + 1
            return orig_parquet(self_, *a, **k)

        DataFrameReader.parquet = parquet
        self._restore.append((DataFrameReader, "parquet", orig_parquet))

        orig_load = catalog.load

        def load(*a, **k):
            before = getattr(tracer._local, "parquet_reads", 0)
            res = orig_load(*a, **k)
            tracer.count("catalog.load_calls")
            if getattr(tracer._local, "parquet_reads", 0) == before:
                tracer.count("catalog.memo_hits")
            tracer._local.last_load = res
            return res

        def after_load_par(args, kwargs, res):
            if res is not getattr(tracer._local, "last_load", None):
                tracer.count("catalog.insurance_shuffles")

        self._replace_everywhere(orig_load, self._timed(load, "catalog", "catalog.load_s"))
        self._replace_everywhere(
            catalog.load_par,
            self._timed(catalog.load_par, "catalog", "catalog.load_s",
                        on_result=after_load_par),
        )

        # similarity.broadcasts etc.: broadcasts issued inside a builder
        orig_broadcast = SparkContext.broadcast

        def broadcast(self_, value):
            if tracer.op_module:
                tracer.count(f"{tracer.op_module}.broadcasts")
            return orig_broadcast(self_, value)

        SparkContext.broadcast = broadcast
        self._restore.append((SparkContext, "broadcast", orig_broadcast))

        # sources.avro_spark: reads are lazy, so a read is its planning call
        # plus the count() that decodes it. The compactor's second read of
        # its own output is the count verification (compact.verify_s).
        orig_read = avro_spark.read_avro_folder

        def read_avro_folder(*a, **k):
            path = str(k.get("path", a[1] if len(a) > 1 else ""))
            root = tracer.verify_root
            kind = tracer.read_kind or (
                "verify" if root and path.startswith(root) else "read"
            )
            t0 = time.perf_counter()
            df = orig_read(*a, **k)
            tracer.span(f"avro_spark.{kind}_plan_s", time.perf_counter() - t0)
            tracer.count(f"avro_spark.{kind}_calls")
            df._pb_read = kind
            return df

        self._replace_everywhere(orig_read, read_avro_folder)

        orig_count = DataFrame.count

        def count(self_):
            kind = getattr(self_, "_pb_read", None)
            if kind is None:
                return orig_count(self_)
            tracer.sc.setJobGroup(job_group(tracer.pass_label, tracer.op, kind), kind)
            t0 = time.perf_counter()
            try:
                return orig_count(self_)
            finally:
                tracer.span(f"avro_spark.{kind}_count_s", time.perf_counter() - t0)

        DataFrame.count = count
        self._restore.append((DataFrame, "count", orig_count))

        orig_write = avro_spark.write_avro_folder

        def write_avro_folder(*a, **k):
            tracer.sc.setJobGroup(job_group(tracer.pass_label, tracer.op, "write"), "write")
            t0 = time.perf_counter()
            n = orig_write(*a, **k)
            tracer.span("avro_spark.write_s", time.perf_counter() - t0)
            tracer.count("avro_spark.files_written", n)
            return n

        self._replace_everywhere(orig_write, write_avro_folder)

        # sources.fsops: every public FsOps method (listings, snapshots,
        # sizes, renames); nested calls are billed once, to the outermost.
        for attr, fn in list(vars(fsops.FsOps).items()):
            if attr.startswith("_") or not callable(fn) or isinstance(fn, type):
                continue
            if isinstance(fn, staticmethod):
                wrapped = staticmethod(self._timed(fn.__func__, "fsops", "fsops.s", "fsops.calls"))
            else:
                wrapped = self._timed(fn, "fsops", "fsops.s", "fsops.calls")
            setattr(fsops.FsOps, attr, wrapped)
            self._restore.append((fsops.FsOps, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_SCOPE = re.compile(r"Pandas|Arrow|Python")


def _acc(metrics: dict, *keys, default=0):
    for k in keys:
        if not isinstance(metrics, dict):
            return default
        metrics = metrics.get(k, default)
    return metrics


def fold_event_log(path: Path) -> dict:
    """Fold one uncompressed event log into per-job-group sums.

    Returns {"groups": {group: {...}}, "retained_mb": {pass: MB}} where the
    retained figure is the storage held (checkpoint, persist and broadcast
    blocks) when pass ``p``'s marker job started — i.e. after the pass."""
    stage_group: dict[int, str] = {}
    stage_py: dict[int, bool] = {}
    groups: dict[str, Counter] = defaultdict(Counter)
    blocks: dict[tuple[str, str], int] = {}
    retained: dict[str, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                parsed = parse_group(group)
                if parsed and parsed[2] == "mark":
                    retained[parsed[0]] = sum(blocks.values()) / 2**20
                    continue
                groups[group]["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    sid = st["Stage ID"]
                    stage_group[sid] = group
                    stage_py[sid] = any(
                        _PY_SCOPE.search(str(r.get("Scope") or "") + str(r.get("Name") or ""))
                        for r in st.get("RDD Info", [])
                    )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is not None and info.get("Submission Time"):
                    groups[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                dur_ms = max(0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                g["tasks"] += 1
                g["task_ms"] += run_ms
                g["cpu_ns"] += tm.get("Executor CPU Time", 0)
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                g["sched_ms"] += max(
                    0,
                    dur_ms - run_ms - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0)
                    - ti.get("Getting Result Time", 0),
                )
                g["shuffle_read_b"] += _acc(tm, "Shuffle Read Metrics", "Remote Bytes Read") + _acc(
                    tm, "Shuffle Read Metrics", "Local Bytes Read"
                )
                g["shuffle_write_b"] += _acc(tm, "Shuffle Write Metrics", "Shuffle Bytes Written")
                g["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                g["peak_exec_b"] = max(g["peak_exec_b"], tm.get("Peak Execution Memory", 0))
                if stage_py.get(ev["Stage ID"]):
                    g["py_tasks"] += 1
                    g["py_task_ms"] += run_ms
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                key = (info["Block Manager ID"]["Executor ID"], info["Block ID"])
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                level = info.get("Storage Level", {})
                if size and (level.get("Use Memory") or level.get("Use Disk")):
                    blocks[key] = size
                else:
                    blocks.pop(key, None)
    return {"groups": {k: dict(v) for k, v in groups.items()}, "retained_mb": retained}


def find_event_log(log_dir: Path) -> Path | None:
    logs = sorted(p for p in Path(log_dir).glob("local-*") if p.is_file())
    return logs[-1] if logs else None


# ---------------------------------------------------------------------------
# Process memory
# ---------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree, sampled every interval."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def wait_for_descendants(timeout: float = 20.0) -> None:
    """Wait until every process this one started has exited; after
    ``timeout`` seconds, kill the ones left."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while rest := [p for p in _descendants(me) if p != me]:
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Plan fingerprint and environment
# ---------------------------------------------------------------------------

_PLAN_IDS = re.compile(r"#\d+L?|(plan_id=|\bid=#?)\d+|\[\d+\] at ")


def plan_fingerprint(plan_text: str, work_dir: str) -> str:
    text = plan_text.replace(work_dir, "<work>")
    text = _PLAN_IDS.sub(lambda m: (m.group(1) or "#"), text)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def loadavg() -> list[float]:
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []
