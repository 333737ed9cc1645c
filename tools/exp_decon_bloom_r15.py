"""r15 VERDICT item 4 follow-up: decontaminate_bloom wall profile + A/B.

The r14 verdict proposed memoizing the built eval bitset per fixture
stat-key. That is rejected in this round's ledger (it is a module-level
memo of computed data keyed on the fixture — the standing no-cross-
invocation-memo rule), so this experiment attacks the honest cost
instead: the bitset-build job and the train-side probe both run over a
single-split scan of ``documents`` at fixture scale, so the
DECON-shingle HOF map work is single-task. Variant = route the doc scan
through catalog.load_par (size-guarded keyed redistribution, the same
r14 treatment the minhash/ngram paths got).
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession, functions as F

from spark_dba_spark import catalog
from spark_dba_spark.operators.text import (
    DECON_EVAL_MOD,
    DECON_NGRAM,
    _shingle_expr,
    bloom_pass_sql,
    build_bloom_bitset,
)
from spark_dba_spark.registry import all_specs
from spark_dba_spark.session import get_spark


def decon_bloom_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_par(spark, sf_dir, "documents", "doc_id")
    sh = docs.select(
        "doc_id",
        F.array_distinct(_shingle_expr(DECON_NGRAM)).alias("shingles"),
    )
    ev = (
        sh.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    bloom = spark.createDataFrame(
        [(build_bloom_bitset(ev),)], "bloom_bits array<long> not null"
    )
    train = sh.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    exploded = train.select("doc_id", F.explode("shingles").alias("s"))
    probed = exploded.join(F.broadcast(bloom))
    cand = probed.filter(F.expr(bloom_pass_sql())).select("doc_id", "s")
    matched = (
        cand.join(F.broadcast(ev), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
    )
    return (
        train.select("doc_id", F.size("shingles").alias("n_shingles"))
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            (F.coalesce("n_matched", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("RUNS", "4"))
    spark = get_spark("exp-decon", driver_memory="16g")
    shipped = all_specs()["decontaminate_bloom"].builder

    rows_a = shipped(spark, sf_dir).collect()
    rows_b = decon_bloom_par(spark, sf_dir).collect()
    same = [tuple(r) for r in rows_a] == [tuple(r) for r in rows_b]
    print(f"output identical: {same}  rows={len(rows_a)}", flush=True)
    if not same:
        # Timings of a variant that computes something else mean nothing.
        spark.stop()
        sys.exit(1)

    a, b = [], []
    for i in range(runs):
        order = [("ship", shipped), ("par", decon_bloom_par)]
        if i % 2:
            order.reverse()
        for name, fn in order:
            spark.sparkContext.setJobDescription(f"decon {name} pass {i}")
            t0 = time.time()
            fn(spark, sf_dir).collect()
            (a if name == "ship" else b).append(time.time() - t0)
    a.sort(), b.sort()
    print(f"shipped min={a[0]:.3f} med={a[len(a)//2]:.3f} all={[round(x,3) for x in a]}")
    print(f"loadpar min={b[0]:.3f} med={b[len(b)//2]:.3f} all={[round(x,3) for x in b]}")
    spark.stop()


if __name__ == "__main__":
    main()
