"""Derive the expected result of every timed query from the DuckDB oracle.

Run once whenever ``fixtures.GENERATOR_VERSION`` or a query's oracle SQL
changes (the minhash oracle alone takes about a minute at sf0.1, which is why
the benchmark never runs the oracle itself):

    python3 perfbench/make_expected.py

Writes ``perfbench/expected/sf<sf>.json.gz``: per query the output column
names, their Arrow type classes, and each row after ``tools/check_oracle.py``'s
``normalize`` (rounded floats, scale-free decimals, column-name order),
rendered with ``repr`` so the file is plain JSON.
"""

from __future__ import annotations

import gzip
import json
import shutil
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))
sys.path.insert(0, str(ROOT))

import fixtures  # noqa: E402
from workloads import QUERY_WORKLOADS, SCALES, check_oracle  # noqa: E402


def expected_path(sf: float) -> Path:
    return BENCH_DIR / "expected" / f"sf{sf}.json.gz"


def main() -> int:
    from spark_dba_spark import registry

    oracle = registry.oracle_sql()
    names = sorted({n for qs in QUERY_WORKLOADS.values() for n in qs})
    work = ROOT / ".perfbench" / "make_expected"
    for sf in sorted(set(SCALES.values())):
        data = fixtures.write_tables(work / f"sf{sf}", sf)
        co = check_oracle()
        con = co.duck_connection(str(data))
        out = {"generator_version": fixtures.GENERATOR_VERSION, "sf": sf, "queries": {}}
        for name in names:
            res = con.execute(oracle[name])
            cols = [d[0] for d in res.description]
            tbl = res.fetch_arrow_table()
            rows = [tuple(r.values()) for r in tbl.to_pylist()]
            out["queries"][name] = {
                "columns": cols,
                "classes": {f.name: co._arrow_class(f.type) for f in tbl.schema},
                "rows": [repr(r) for r in co.normalize(rows, cols)],
            }
            print(f"sf{sf} {name}: {len(rows)} rows", flush=True)
        con.close()
        path = expected_path(sf)
        path.parent.mkdir(exist_ok=True)
        with gzip.GzipFile(path, "wb", mtime=0) as fh:
            fh.write(json.dumps(out, sort_keys=True).encode())
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
