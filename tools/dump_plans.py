"""Dump `.explain("formatted")` for the named registered queries to
<outdir>/<name>_<suffix>.txt — the plans/rNN before/after evidence files.
Each "wrote …" line carries the plan's fingerprint (perfbench's
``plan_fingerprint``: expression and plan ids stripped, the fixture
directory replaced), so two checkouts that build the same plan print the
same hash.

    python tools/dump_plans.py --out plans/r15 --suffix after [names...]
"""
from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from spark_dba_spark import registry  # noqa: E402
from spark_dba_spark.session import get_spark  # noqa: E402


def _plan_fingerprint():
    """``perfbench/layers.plan_fingerprint``; ``perfbench`` is no package,
    so load the module by path."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_layers", ROOT / "perfbench" / "layers.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.plan_fingerprint


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    specs = registry.all_specs()
    unknown = [n for n in args.names if n not in specs]
    if unknown:
        ap.error(f"unknown query names: {', '.join(unknown)}")
    fingerprint = _plan_fingerprint()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump-plans", driver_memory="8g")
    for name in args.names:
        df = specs[name].builder(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        (out / f"{name}_{args.suffix}.txt").write_text(plan)
        print(f"wrote {name}_{args.suffix}.txt {fingerprint(plan, args.sf)}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
