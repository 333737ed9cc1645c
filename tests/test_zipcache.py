"""The stat-keyed ``zipimporter.invalidate_caches`` (``spark_dba_spark.
zipcache``): repeated ``importlib.invalidate_caches()`` calls re-read no
unchanged archive, a rewritten archive is still re-read, and a reused
PySpark worker runs its tasks with the hook in place and no re-read."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from spark_dba_spark import zipcache

ROOT = Path(__file__).resolve().parent.parent

# Runs in a fresh interpreter: the import system's caches are process-wide.
_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

old_zip, new_zip = sys.argv[1], sys.argv[2]


def write(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


write(old_zip, {"zold/__init__": "", "zold/a": "X = 1\n"})
sys.path.insert(0, old_zip)
import zold.a  # cached before the engine (and the hook) is imported

import spark_dba_spark
from spark_dba_spark import zipcache

reads = []
real = zipimport._read_directory


def counting(archive):
    reads.append(os.path.basename(archive))
    return real(archive)


zipimport._read_directory = counting
out = {"installed": zipcache.install()}
for _ in range(5):
    importlib.invalidate_caches()
out["seeded"] = list(reads)

write(new_zip, {"znew/__init__": "", "znew/a": "Y = 1\n"})
sys.path.insert(0, new_zip)
import znew.a  # first seen after the hook: read once by zipimporter()
reads.clear()
for _ in range(5):
    importlib.invalidate_caches()
out["new"] = list(reads)

# Rewrite the old archive with one more module: new size, new mtime.
st = os.stat(old_zip)
write(old_zip, {"zold/__init__": "", "zold/a": "X = 1\n", "zold/b": "Y = 2\n"})
os.utime(old_zip, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
reads.clear()
importlib.invalidate_caches()
import zold.b
out["rewritten"] = list(reads)
out["b"] = zold.b.Y
reads.clear()
importlib.invalidate_caches()
out["after"] = list(reads)
print(json.dumps(out))
"""


def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT,
         str(tmp_path / "old.zip"), str(tmp_path / "new.zip")],
        capture_output=True, text=True, env=env, timeout=120, check=True,
    )
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["installed"] is True
    # Archives cached at install are keyed then: never re-read.
    assert out["seeded"] == []
    # An archive first opened after install is re-read once (its key is
    # unknown until then), then never.
    assert out["new"] == ["new.zip"]
    # A rewritten archive is re-read, so its new module imports.
    assert out["rewritten"].count("old.zip") == 1
    assert out["b"] == 2
    assert out["after"] == []


def test_install_is_idempotent_and_gated():
    import zipimport

    assert zipcache.install()
    hooked = zipimport.zipimporter.invalidate_caches
    assert zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is hooked

    def lazy(self):  # CPython 3.13's shape: drop the entry, read on demand
        import zipimport

        zipimport._zip_directory_cache.pop(self.archive, None)

    assert not zipcache._rereads_eagerly(lazy)


def test_reused_worker_rereads_nothing(spark):
    """Single-task ``mapInPandas`` jobs until one worker runs twice: on its
    second task the hook is in place and the task's set-up re-read no
    archive. Each task counts ``zipimport._read_directory`` calls in its
    worker from the previous task's end to its own start."""

    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        import spark_dba_spark  # noqa: F401  (installs the hook)

        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            reads = zipimport._probe_reads = [0]
            real = zipimport._read_directory

            def counting(archive):
                reads[0] += 1
                return real(archive)

            zipimport._read_directory = counting
            seen = -1
        else:
            seen = reads[0]
        reads[0] = 0
        hooked = bool(getattr(zipimport.zipimporter.invalidate_caches,
                              "stat_keyed", False))
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [seen],
                            "hooked": [hooked]})

    reports = []
    for _ in range(16):
        row = (spark.range(1, numPartitions=1)
               .mapInPandas(probe, "pid long, reads long, hooked boolean")
               .collect()[0])
        reports.append(row)
        if row.reads >= 0:
            break
    second = reports[-1]
    assert second.reads >= 0, f"no worker ran two tasks: {reports}"
    assert second.hooked
    assert second.reads == 0, reports
