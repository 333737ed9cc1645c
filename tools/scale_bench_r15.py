"""r15 VERDICT item 2: bench the 14 headline queries on the ~10x local
fixture substrate (tools/gen_scale_fixtures.py output) at two core
counts, driver methodology (interleaved passes, first pass discarded as
warm-up, per-query medians over at least 5 timed passes).

    SPARK_GRAFT_SF_DIR=/root/fixtures/sf1 SPARK_GRAFT_CPUS=32 \
        python tools/scale_bench_r15.py

Differences from bench.py, deliberate and recorded: 24g driver (a 16g
driver survives any single sf1 pass but an interleaved 4-pass session
accumulated enough broadcast/checkpoint pressure to fail a q05 broadcast
build — recorded in OPTIMIZATION_r15.md), 6 passes instead of 9 (the
substrate is 10x slower per pass; the first is a warm-up, so the
medians are of 5 timed passes, and fewer are refused), and no sf0.001
shape warm-up loop (the warm-up pass covers codegen). This tool never
touches the `testdata` fixtures and is not ``bench.py``.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_dba_spark import registry  # noqa: E402
from spark_dba_spark.session import get_spark  # noqa: E402

# Fewer timed samples than this make a median too weak against the host's
# load waves (two samples make it a mean).
MIN_TIMED_RUNS = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/fixtures/sf1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "6"))
    if n_runs - 1 < MIN_TIMED_RUNS:
        sys.exit(
            f"SPARK_GRAFT_BENCH_RUNS={n_runs}: the first pass is a warm-up, "
            f"so at least {MIN_TIMED_RUNS + 1} passes are needed for "
            f"medians of {MIN_TIMED_RUNS} timed ones"
        )
    spark = get_spark("scale-bench", driver_memory="24g")
    specs = registry.bench_specs()
    samples: dict[str, list[float]] = {name: [] for name in specs}
    for i in range(n_runs):
        for name, spec in specs.items():
            spark.sparkContext.setJobDescription(f"{name} pass {i}")
            t0 = time.time()
            spec.builder(spark, sf_dir).collect()
            samples[name].append(time.time() - t0)
    timed = {n: xs[1:] for n, xs in samples.items()}

    def med(xs: list[float]) -> float:
        ys = sorted(xs)
        n = len(ys)
        return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "queries": {n: round(med(xs), 3) for n, xs in timed.items()},
                "best": {n: round(min(xs), 3) for n, xs in timed.items()},
                "warmup": {n: round(xs[0], 3) for n, xs in samples.items()},
                "loadavg": float(
                    Path("/proc/loadavg").read_text().split()[0]
                ),
                "runs": n_runs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
