"""Round-12 LLM-curation operators (VERDICT r11 "Next round" #2): the
continuation of the training-data-pipeline surface — semantic dedup over
the embedding clusters, a bigram-LM fluency proxy, the Gopher repetition
gates, the paragraph-grain cleaned-corpus artifact, a leakage-checked
eval split, plus the supporting text / events / orders / embeddings /
sketch families landed in the same four-evidence protocol (full DuckDB
oracle + 3-SF hostile sweep + brute pytest twin + plan row).

Everything is DataFrame-declarative with exact cross-engine arithmetic
(the TIES.md catalogue: rat/qrem half-up rationals, md5 integer lanes,
the 2^-20 kmeans grid, type-1 percentiles) so every operator carries a
full value-hash oracle. No per-row Python UDF anywhere; the only
non-codegen stages are inherited from the kmeans machinery (JVM
higher-order folds, still no Arrow)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import catalog
from ..functions.hashing import sql_md5_long_duck, sql_md5_long_spark
from ..functions.numeric import (
    qrem_round6_duck,
    qrem_round6_spark,
    rat_round6_duck,
    rat_round6_signed_duck,
    rat_round6_signed_spark,
    rat_round6_spark,
)
from ..registry import QuerySpec
from .dedup import _GRAPH_SYM_CTES, _PARA_CTES, PARA_W, _neardup_graph
from .dedup import _paragraph_pairs
from .similarity import (
    _KM_ORACLE_PREFIX,
    KM_ITERS,
    _km_loop,
    _local_topk,
    _probe_scan,
    _sq_dists,
    _to_matrix,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "documents")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with the CPU-heavy map stage pinned to
    defaultParallelism partitions (the dedup._docs_par rule: the
    fixture corpus is ONE parquet split, so per-byte HOF/regex stages
    otherwise run as a single task; an explicit repartition count
    survives AQE's byte-based coalescing). At real scale the scan has
    thousands of splits and this is an insurance shuffle of raw docs."""
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )


# --------------------------------------------------------------------------
# Semantic dedup over the kmeans clusters (SemDedup; VERDICT r11 #2a)
# --------------------------------------------------------------------------

SEM_TAU_Q2 = 1 << 40  # drop threshold: squared distance <= 1.0 in raw
# embedding units on the 2^-20 grid (q2 units are raw * 2^40) — for unit
# vectors that is cosine >= 0.5. The uniform-random fixture has no pair
# this close (every keep flag false there — the drop logic is exercised
# by the clustered synthetic twin), which is itself the correct answer:
# semantic dedup on a structure-free corpus should drop nothing.


def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023) on Spark: k-means clusters the
    embedding space (the ``emb_kmeans_lloyd`` machinery — same grid,
    same Lloyd loop), then near-duplicate candidates are searched ONLY
    within each cluster and the keep-one rule is first-occurrence
    (lowest vec_id keeps; a vector drops when some LOWER-id cluster
    peer sits within SEM_TAU_Q2 on the integer grid). Emits, per
    vector: its cluster, its exact distance-to-centroid, its nearest
    lower-id in-cluster neighbor and that distance, and the drop flag
    — the audit trail a curation run keeps alongside the pruned corpus.

    EXACT end to end: the 2^-20 truncation grid, BIGINT pairwise
    distances, (d2, vec_id) argmin ties — full value-hash oracle built
    on the shared kmeans CTE prefix.

    Scale: this is the whole point of SemDedup — candidate pairs are
    bucketed by cluster id, so the quadratic term is Σ|cluster|², never
    corpus²; K grows with the corpus to keep clusters bounded. One
    shuffle on cid for the self-join; the Lloyd loop itself is
    map-only passes + K×D-bounded exchanges."""
    assigned, _ = _km_loop(spark, sf_dir)
    base = assigned.select(
        "vec_id", "cid", "qv", F.col("sqdist").cast("long").alias("d2c")
    ).localCheckpoint(eager=True)  # feeds both self-join sides + readout
    lo = base.select(
        F.col("cid").alias("cid_l"),
        F.col("vec_id").alias("u"),
        F.col("qv").alias("qu"),
    )
    hi = base.select("cid", "vec_id", "qv")
    pairs = (
        hi.join(lo, (hi["cid"] == lo["cid_l"]) & (lo["u"] < hi["vec_id"]))
        .select(
            "vec_id",
            "u",
            F.expr(
                "aggregate(zip_with(qv, qu, (x, y) -> (x - y) * (x - y)),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("d2"),
        )
    )
    nn = (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "u")).alias("b"))
        .select(
            "vec_id",
            F.col("b.u").alias("nn_vec_id"),
            F.col("b.d2").alias("nn_d2"),
        )
    )
    return (
        base.join(nn, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").cast("int").alias("cid"),
            "d2c",
            "nn_vec_id",
            "nn_d2",
            F.coalesce(
                F.col("nn_d2") <= F.lit(SEM_TAU_Q2), F.lit(False)
            ).alias("is_dropped"),
        )
        .orderBy("vec_id")
    )


ORACLE_SEMANTIC_KMEANS = f"""
{_KM_ORACLE_PREFIX},
pr AS (
  SELECT hi.vec_id AS v, lo.vec_id AS u,
         CAST(SUM((qh.qv - ql.qv) * (qh.qv - ql.qv)) AS BIGINT) AS d2
  FROM a{KM_ITERS} hi
  JOIN a{KM_ITERS} lo ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
  JOIN q qh ON qh.vec_id = hi.vec_id
  JOIN q ql ON ql.vec_id = lo.vec_id AND ql.dim = qh.dim
  GROUP BY 1, 2),
nn AS (
  SELECT v, u, d2 FROM (
    SELECT v, u, d2,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY d2, u) AS rn
    FROM pr) WHERE rn = 1)
SELECT a.vec_id, CAST(a.cid AS INT) AS cid,
       CAST(a.d2 AS BIGINT) AS d2c,
       nn.u AS nn_vec_id, nn.d2 AS nn_d2,
       COALESCE(nn.d2 <= {SEM_TAU_Q2}, FALSE) AS is_dropped
FROM a{KM_ITERS} a LEFT JOIN nn ON a.vec_id = nn.v
ORDER BY a.vec_id
"""


# --------------------------------------------------------------------------
# Bigram-LM fluency proxy (VERDICT r11 #2b)
# --------------------------------------------------------------------------

BG_RARE_C = 2  # a bigram occurring <= this many times corpus-wide is rare


def text_bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fluency under the corpus's own bigram LM — the
    perplexity-proxy filter a curation pipeline runs before training
    (gibberish and shuffled text score low-probability bigrams; clean
    prose scores high): p(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1}·)
    with counts over ALL documents, and per doc we report the mean and
    min conditional probability plus the rare-bigram share. Restated
    exactly: each bigram occurrence's probability is half-up-rounded to
    a micro integer (exact rational — prefix counts come from the same
    bigram table, so probabilities sum to 1 per prefix), the per-doc
    mean is one more exact half-up over the micro sum, and the
    rare share is a plain count ratio. No log — the geometric mean
    needs one, but mean/min conditional probability orders documents
    the same way for the gate and stays cross-engine exact.

    Scale: one bigram explode (corpus token count rows), two hash aggs
    for the count tables, two shuffle joins keyed on the bigram/prefix
    (the inverted-index posture), one doc-grain agg. No collect, no
    Python."""
    docs = _docs_par(spark, sf_dir)
    occ = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> "
                    "named_struct('w1', element_at(ws, i), "
                    "'w2', element_at(ws, i + 1)))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .localCheckpoint(eager=True)  # feeds pair counts, prefix counts
        # AND the per-occurrence join — one corpus tokenization pass
    )
    cpair = occ.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    cpre = occ.groupBy("w1").agg(F.count("*").alias("c_a"))
    scored = (
        occ.join(cpair, ["w1", "w2"])
        .join(cpre, ["w1"])
        .select(
            "doc_id",
            F.expr("(c_ab * 2000000 + c_a) div (2 * c_a)").alias("p_micro"),
            (F.col("c_ab") <= BG_RARE_C).cast("int").alias("rare"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("p_micro").alias("sum_micro"),
            F.min("p_micro").alias("min_micro"),
            F.sum("rare").cast("long").alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(
                "cast((sum_micro * 2 + n_bigrams) div (2 * n_bigrams)"
                " as double) / 1000000.0"
            ).alias("mean_condp_r6"),
            (F.col("min_micro").cast("double") / 1e6).alias("min_condp_r6"),
            F.expr(rat_round6_spark("n_rare", "n_bigrams")).alias(
                "rare_share_r6"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_BIGRAM_LM = f"""
WITH occ AS MATERIALIZED (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2),
cpair AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM occ GROUP BY 1, 2),
cpre AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_a FROM occ GROUP BY 1),
scored AS (
  SELECT occ.doc_id,
         (c_ab * 2000000 + c_a) // (2 * c_a) AS p_micro,
         CASE WHEN c_ab <= {BG_RARE_C} THEN 1 ELSE 0 END AS rare
  FROM occ JOIN cpair USING (w1, w2) JOIN cpre USING (w1)),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(p_micro) AS BIGINT) AS sum_micro,
         CAST(MIN(p_micro) AS BIGINT) AS min_micro,
         CAST(SUM(rare) AS BIGINT) AS n_rare
  FROM scored GROUP BY 1)
SELECT doc_id, n_bigrams,
       CAST((sum_micro * 2 + n_bigrams) // (2 * n_bigrams) AS DOUBLE)
         / 1000000.0 AS mean_condp_r6,
       CAST(min_micro AS DOUBLE) / 1000000.0 AS min_condp_r6,
       {rat_round6_duck("n_rare", "n_bigrams")} AS rare_share_r6
FROM agg ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Gopher repetition gates (VERDICT r11 #2c)
# --------------------------------------------------------------------------

REP_NS = (2, 3, 4)
REP_GATE_PCT = {2: 20, 3: 18, 4: 16}  # max duplicated-occurrence share, %


def text_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition gates (Rae et al. 2021 §A1.1): per document
    and n ∈ {REP_NS}, the share of word-n-gram OCCURRENCES whose gram
    appears at least twice in the document, gated at
    {REP_GATE_PCT}% — the repeated-phrase complement of the
    length/stopword ``text_gopher_gates`` (a doc passing those can
    still be "lorem lorem lorem" loop output; this one catches it).
    One row per (doc, n); the gate comparison is an integer
    cross-multiply, the share an exact half-up rational.

    Scale: one explode per n over the token array (3 map-side passes
    folded into one explode of the n-list), a (doc, n, gram) hash agg,
    a (doc, n) re-agg. Grain never exceeds 3× token count; no joins."""
    docs = _docs_par(spark, sf_dir)
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(F.array(*[F.lit(n) for n in REP_NS])).alias("n"),
            "ws",
        )
        .filter(F.size("ws") >= F.col("n"))
        .select(
            "doc_id",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - n + 1),"
                    " i -> concat_ws(' ', slice(ws, i, n)))"
                )
            ).alias("g"),
        )
    )
    per_gram = grams.groupBy("doc_id", "n", "g").agg(
        F.count("*").alias("c")
    )
    gate = (
        "case "
        + " ".join(
            f"when n = {n} then {REP_GATE_PCT[n]}" for n in REP_NS
        )
        + " end"
    )
    return (
        per_gram.groupBy("doc_id", F.col("n").cast("int").alias("n"))
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            .cast("long")
            .alias("dup_occurrences"),
        )
        .select(
            "doc_id",
            "n",
            "n_occurrences",
            "dup_occurrences",
            F.expr(
                rat_round6_spark("dup_occurrences", "n_occurrences")
            ).alias("dup_share_r6"),
            F.expr(f"dup_occurrences * 100 <= n_occurrences * ({gate})")
            .alias("pass_gate"),
        )
        .orderBy("doc_id", "n")
    )


def _oracle_repetition_gates() -> str:
    gate = (
        "CASE "
        + " ".join(
            f"WHEN n = {n} THEN {REP_GATE_PCT[n]}" for n in REP_NS
        )
        + " END"
    )
    ns = ", ".join(str(n) for n in REP_NS)
    return f"""
WITH g AS (
  SELECT doc_id, n,
         array_to_string(ws[i : i + n - 1], ' ') AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest([{ns}]) AS nn(n),
       LATERAL unnest(generate_series(1, len(ws) - n + 1)) AS u(i)
  WHERE len(ws) >= n),
pg AS (
  SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM g GROUP BY 1, 2, 3),
agg AS (
  SELECT doc_id, CAST(n AS INT) AS n,
         CAST(SUM(c) AS BIGINT) AS n_occurrences,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS dup_occurrences
  FROM pg GROUP BY 1, 2)
SELECT doc_id, n, n_occurrences, dup_occurrences,
       {rat_round6_duck("dup_occurrences", "n_occurrences")}
         AS dup_share_r6,
       dup_occurrences * 100 <= n_occurrences * ({gate}) AS pass_gate
FROM agg ORDER BY doc_id, n
"""


ORACLE_REPETITION_GATES = _oracle_repetition_gates()


# --------------------------------------------------------------------------
# Paragraph-grain cleaned corpus (VERDICT r11 #2d)
# --------------------------------------------------------------------------

def dedup_paragraph_cleaned_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ARTIFACT of paragraph-grain fuzzy dedup — what
    ``text_dup_region_removal`` is to span dedup, this is to
    ``dedup_paragraph_minhash``: every verified cross-doc duplicate
    block pair keeps its first occurrence (the doc_a side — pairs are
    canonical doc_a < doc_b) and the doc_b block is CUT from the
    rebuilt document; the cleaned corpus plus removal accounting is
    emitted. Blocks are the same non-overlapping {PARA_W}-token grid,
    so ``removed_tokens`` is exactly the token mass of removed blocks.

    Scale: the pair machinery is the shared banded-LSH join (never
    all-pairs); the removal set is dup-bounded; the cut is one indexed
    higher-order filter, map-side after a doc-keyed left join. Output
    is corpus-sized BY DESIGN (it IS the cleaned corpus) — scale walls
    belong to count(), not collect() (SCALING notes)."""
    pairs = _paragraph_pairs(spark, sf_dir)
    removed = (
        pairs.select(
            F.col("doc_b").alias("doc_id"), F.col("blk_b").alias("blk")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("blk")).alias("rblks"))
    )
    docs = _docs(spark, sf_dir)
    return (
        docs.join(removed, "doc_id", "left")
        .select(
            "doc_id", F.split("text", " ").alias("ws"), "rblks"
        )
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_tokens"),
            F.expr(f"cast((size(ws) + {PARA_W - 1}) div {PARA_W} as bigint)")
            .alias("n_blocks"),
            F.coalesce(F.size("rblks"), F.lit(0))
            .cast("long")
            .alias("removed_blocks"),
            F.expr(
                f"filter(ws, (w, i) -> rblks is null"
                f" or not array_contains(rblks, cast(i div {PARA_W} as int)))"
            ).alias("kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_blocks",
            "removed_blocks",
            F.size("kept").cast("long").alias("kept_tokens"),
            (F.col("n_tokens") - F.size("kept"))
            .cast("long")
            .alias("removed_tokens"),
            F.array_join("kept", " ").alias("clean_text"),
        )
        .orderBy("doc_id")
    )


ORACLE_PARAGRAPH_CLEANED = f"""
WITH {_PARA_CTES},
rem AS MATERIALIZED (
  SELECT DISTINCT doc_b AS doc_id, blk_b AS blk FROM vp),
toks AS (
  SELECT doc_id, i, ws[i] AS w, (i - 1) // {PARA_W} AS blk
  FROM d, LATERAL unnest(generate_series(1, len(ws))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.i, t.w FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM rem r
                    WHERE r.doc_id = t.doc_id AND r.blk = t.blk)),
cl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         string_agg(w, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY 1),
rb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS removed_blocks
       FROM rem GROUP BY 1)
SELECT d.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST((len(ws) + {PARA_W - 1}) // {PARA_W} AS BIGINT) AS n_blocks,
       COALESCE(rb.removed_blocks, 0) AS removed_blocks,
       COALESCE(cl.kept_tokens, 0) AS kept_tokens,
       CAST(len(ws) AS BIGINT) - COALESCE(cl.kept_tokens, 0)
         AS removed_tokens,
       COALESCE(cl.clean_text, '') AS clean_text
FROM d
LEFT JOIN cl ON d.doc_id = cl.doc_id
LEFT JOIN rb ON d.doc_id = rb.doc_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Leakage-checked eval split (VERDICT r11 #2e)
# --------------------------------------------------------------------------

SPLIT_EVAL_PCT = 10  # md5-lane % 100 < this → eval


def text_eval_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split + the leakage audit that makes it
    trustworthy: docs are assigned by a salted md5 lane (content- and
    order-independent — the ``dataset_split_hash`` idiom), then every
    near-duplicate edge of the production dup graph that CROSSES the
    split is counted — a train doc near-duplicating an eval doc is
    train/test contamination, the #1 real-pipeline eval bug. Per
    source: doc counts, the realized eval share, cross-split dup
    pairs whose eval endpoint lives in this source, and the number of
    DISTINCT leaked eval docs (the actionable number: these eval rows
    are invalid until their train twins are dropped).

    Scale: split assignment is map-side; the leak join touches the
    dup-bounded edge set twice (doc-keyed hash joins); the rollup is
    source-bounded."""
    lane = sql_md5_long_spark(
        "concat('split:', cast(doc_id as string))", 1, 13
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        (F.expr(lane) % 100 < SPLIT_EVAL_PCT).alias("is_eval"),
    ).localCheckpoint(eager=True)  # feeds edge-flagging twice + rollup
    edges, _ = _neardup_graph(spark, sf_dir)
    flagged = (
        edges.join(
            docs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("is_eval").alias("ev_a"),
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("is_eval").alias("ev_b"),
            ),
            "doc_b",
        )
        .filter(F.col("ev_a") != F.col("ev_b"))
        .select(
            F.when(F.col("ev_a"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("eval_doc")
        )
    )
    leaks = (
        flagged.join(
            docs.select(F.col("doc_id").alias("eval_doc"), "source"),
            "eval_doc",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_leak_pairs"),
            F.countDistinct("eval_doc").cast("long").alias(
                "n_leaked_eval_docs"
            ),
        )
    )
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("is_eval").cast("long")).cast("long").alias("n_eval"),
    )
    return (
        per_src.join(leaks, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_eval",
            F.expr(rat_round6_spark("n_eval", "n_docs")).alias(
                "eval_share_r6"
            ),
            F.coalesce("n_leak_pairs", F.lit(0))
            .cast("long")
            .alias("n_leak_pairs"),
            F.coalesce("n_leaked_eval_docs", F.lit(0))
            .cast("long")
            .alias("n_leaked_eval_docs"),
        )
        .orderBy("source")
    )


_SPLIT_LANE_DUCK = sql_md5_long_duck(
    "'split:' || CAST(doc_id AS VARCHAR)", 1, 13
)

ORACLE_EVAL_SPLIT_LEAKAGE = f"""
WITH {_GRAPH_SYM_CTES},
dd AS MATERIALIZED (
  SELECT doc_id, source,
         {_SPLIT_LANE_DUCK} % 100 < {SPLIT_EVAL_PCT} AS is_eval
  FROM documents),
cross_split AS (
  SELECT CASE WHEN a.is_eval THEN dup.doc_a ELSE dup.doc_b END AS eval_doc
  FROM dup
  JOIN dd a ON dup.doc_a = a.doc_id
  JOIN dd b ON dup.doc_b = b.doc_id
  WHERE a.is_eval != b.is_eval),
leaks AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_leak_pairs,
         CAST(COUNT(DISTINCT eval_doc) AS BIGINT) AS n_leaked_eval_docs
  FROM cross_split c JOIN dd d ON c.eval_doc = d.doc_id
  GROUP BY 1),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
  FROM dd GROUP BY 1)
SELECT p.source, p.n_docs, p.n_eval,
       {rat_round6_duck("p.n_eval", "p.n_docs")} AS eval_share_r6,
       COALESCE(l.n_leak_pairs, 0) AS n_leak_pairs,
       COALESCE(l.n_leaked_eval_docs, 0) AS n_leaked_eval_docs
FROM per_src p LEFT JOIN leaks l ON p.source = l.source
ORDER BY p.source
"""


# --------------------------------------------------------------------------
# Head-term co-occurrence lift (topic/template coupling)
# --------------------------------------------------------------------------

LIFT_HEAD_TERMS = 40  # head vocabulary by document frequency
LIFT_TOP_PAIRS = 30


def text_cooccur_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-occurrence LIFT over the head vocabulary:
    lift(a,b) = N·df(a∧b) / (df(a)·df(b)) — the association table
    behind topic coupling / template detection (PMI's exponent,
    rational instead of logarithmic so it stays cross-engine exact).
    Top {LIFT_TOP_PAIRS} unordered pairs of the {LIFT_HEAD_TERMS}
    highest-df terms, ranked by the exact half-up micro lift.

    Scale: the head set is a bounded broadcast dictionary; per-doc
    presence lists are ≤{LIFT_HEAD_TERMS} rows, so the doc-keyed
    self-join fans at most C({LIFT_HEAD_TERMS},2) pairs per doc —
    never vocabulary² and never corpus². N·df·2·10⁶ stays far below
    2^63 for any corpus DuckDB can host (qrem split otherwise)."""
    docs = _docs_par(spark, sf_dir)
    n_docs = docs.count()  # scalar: lift numerator dimension
    pres = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds df agg + both join sides
    )
    heads = (
        pres.groupBy("w")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("w"))
        .limit(LIFT_HEAD_TERMS)
        .localCheckpoint(eager=True)  # bounded dictionary, 3 consumers
    )
    hp = pres.join(F.broadcast(heads.select("w")), "w")
    a = hp.select("doc_id", F.col("w").alias("w_a"))
    b = hp.select("doc_id", F.col("w").alias("w_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w_a") < F.col("w_b"))
        .groupBy("w_a", "w_b")
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(heads.select(F.col("w").alias("w_a"),
                                     F.col("df").alias("df_a"))), "w_a")
        .join(
            F.broadcast(heads.select(F.col("w").alias("w_b"),
                                     F.col("df").alias("df_b"))), "w_b")
        .select(
            "w_a", "w_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("df_a").cast("long").alias("df_a"),
            F.col("df_b").cast("long").alias("df_b"),
            F.expr(
                f"({n_docs}L * n_ab * 2000000 + df_a * df_b)"
                f" div (2 * df_a * df_b)"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "w_a", "w_b")
        .limit(LIFT_TOP_PAIRS)
        .select(
            "w_a", "w_b", "n_ab", "df_a", "df_b",
            (F.col("lift_micro").cast("double") / 1e6).alias("lift_r6"),
        )
        .orderBy("w_a", "w_b")
    )


ORACLE_COOCCUR_LIFT = f"""
WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
pres AS MATERIALIZED (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
heads AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM pres GROUP BY 1
  ORDER BY df DESC, w LIMIT {LIFT_HEAD_TERMS}),
hp AS (SELECT p.doc_id, p.w FROM pres p JOIN heads USING (w)),
pairs AS (
  SELECT a.w AS w_a, b.w AS w_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM hp a JOIN hp b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2),
lifted AS (
  SELECT w_a, w_b, n_ab, ha.df AS df_a, hb.df AS df_b,
         (nd.n * n_ab * 2000000 + ha.df * hb.df)
           // (2 * ha.df * hb.df) AS lift_micro
  FROM pairs
  JOIN heads ha ON pairs.w_a = ha.w
  JOIN heads hb ON pairs.w_b = hb.w
  CROSS JOIN nd)
SELECT w_a, w_b, n_ab, df_a, df_b,
       CAST(lift_micro AS DOUBLE) / 1000000.0 AS lift_r6
FROM (SELECT * FROM lifted
      ORDER BY lift_micro DESC, w_a, w_b LIMIT {LIFT_TOP_PAIRS})
ORDER BY w_a, w_b
"""


# --------------------------------------------------------------------------
# Positional vocabulary drift (front-vs-back usage bias)
# --------------------------------------------------------------------------

DRIFT_TOP_TERMS = 25


def text_positional_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-vs-back positional usage bias per term: does a term
    concentrate in the first third of documents (boilerplate headers,
    prompt templates) or the last third (signatures, calls-to-action)?
    For the {DRIFT_TOP_TERMS} highest-volume terms in those zones,
    reports front/back occurrence counts and the SIGNED micro
    difference of front share minus back share — each share an exact
    half-up rational of its zone's token mass.

    Scale: one posexplode pass keeps only the two zone slices (≤2/3 of
    tokens), one term-grain agg, totals via one bounded broadcast; the
    head cut is a TakeOrdered."""
    docs = _docs_par(spark, sf_dir)
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("i", "w"),
            F.size(F.split("text", " ")).alias("n"),
        )
        .select(
            "w",
            (F.col("i") + 1 <= F.expr("n div 3")).alias("front"),
            (F.col("i") + 1 > F.expr("n - n div 3")).alias("back"),
        )
        .filter(F.col("front") | F.col("back"))
    )
    per_term = toks.groupBy("w").agg(
        F.sum(F.col("front").cast("long")).alias("f"),
        F.sum(F.col("back").cast("long")).alias("b"),
    ).localCheckpoint(eager=True)  # bounded term table; feeds totals + head
    tot = per_term.agg(
        F.sum("f").cast("long").alias("tf"),
        F.sum("b").cast("long").alias("tb"),
    )
    return (
        per_term.crossJoin(F.broadcast(tot))
        .orderBy(F.desc(F.col("f") + F.col("b")), F.asc("w"))
        .limit(DRIFT_TOP_TERMS)
        .select(
            F.col("w").alias("term"),
            F.col("f").cast("long").alias("n_front"),
            F.col("b").cast("long").alias("n_back"),
            F.expr(rat_round6_spark("f", "tf")).alias("front_share_r6"),
            F.expr(rat_round6_spark("b", "tb")).alias("back_share_r6"),
            F.expr(
                "cast((f * 2000000 + tf) div (2 * tf)"
                " - (b * 2000000 + tb) div (2 * tb) as bigint)"
            ).alias("drift_micro"),
        )
        .orderBy("term")
    )


ORACLE_POSITIONAL_DRIFT = f"""
WITH toks AS (
  SELECT ws[i] AS w,
         i <= len(ws) // 3 AS front,
         i > len(ws) - len(ws) // 3 AS back
  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest(generate_series(1, len(ws))) AS u(i)
  WHERE i <= len(ws) // 3 OR i > len(ws) - len(ws) // 3),
pt AS MATERIALIZED (
  SELECT w, CAST(SUM(CASE WHEN front THEN 1 ELSE 0 END) AS BIGINT) AS f,
         CAST(SUM(CASE WHEN back THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(f) AS BIGINT) AS tf,
               CAST(SUM(b) AS BIGINT) AS tb FROM pt),
head AS (
  SELECT * FROM pt CROSS JOIN tot
  ORDER BY f + b DESC, w LIMIT {DRIFT_TOP_TERMS})
SELECT w AS term, f AS n_front, b AS n_back,
       {rat_round6_duck("f", "tf")} AS front_share_r6,
       {rat_round6_duck("b", "tb")} AS back_share_r6,
       CAST((f * 2000000 + tf) // (2 * tf)
            - (b * 2000000 + tb) // (2 * tb) AS BIGINT) AS drift_micro
FROM head ORDER BY term
"""


# --------------------------------------------------------------------------
# Head/tail self-similarity (within-doc redundancy)
# --------------------------------------------------------------------------

def text_head_tail_selfsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document vocabulary Jaccard between the first and second
    halves of the token stream — the cheap within-doc redundancy probe
    (a doc whose tail re-uses exactly its head vocabulary is listy /
    template output; an essay introduces new vocabulary throughout).
    Complements ``text_repetition_gates`` (which sees contiguous
    repeats; this sees long-range vocabulary recycling). The Jaccard is
    an IEEE quotient of two small exact integers (hash-safe — the
    minhash precedent).

    Scale: pure map-side higher-order expressions over the token array
    — no shuffle, no join; one WholeStageCodegen pass."""
    docs = _docs_par(spark, sf_dir)
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_tokens"),
            F.expr(
                "array_distinct(slice(ws, 1, size(ws) div 2))"
            ).alias("hv"),
            F.expr(
                "array_distinct(slice(ws, size(ws) div 2 + 1,"
                " size(ws) - size(ws) div 2))"
            ).alias("tv"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("hv").cast("long").alias("head_vocab"),
            F.size("tv").cast("long").alias("tail_vocab"),
            F.size(F.array_intersect("hv", "tv"))
            .cast("long")
            .alias("shared_vocab"),
            (
                F.size(F.array_intersect("hv", "tv"))
                / F.size(F.array_union("hv", "tv")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("doc_id")
    )


ORACLE_HEAD_TAIL_SELFSIM = """
WITH h AS (
  SELECT doc_id, len(ws) AS n_tokens,
         list_distinct(ws[1 : len(ws) // 2]) AS hv,
         list_distinct(ws[len(ws) // 2 + 1 : len(ws)]) AS tv
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 2)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(hv) AS BIGINT) AS head_vocab,
       CAST(len(tv) AS BIGINT) AS tail_vocab,
       CAST(len(list_intersect(hv, tv)) AS BIGINT) AS shared_vocab,
       len(list_intersect(hv, tv))
         / CAST(len(hv) + len(tv) - len(list_intersect(hv, tv)) AS DOUBLE)
         AS jaccard
FROM h ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Character-bigram profile per language (lang-ID feature table)
# --------------------------------------------------------------------------

CHAR_BG_TOP = 20


def text_char_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CHAR_BG_TOP} character bigrams per language with exact
    occurrence shares — the feature table an n-gram language identifier
    is trained from (and the drift probe that catches an encoding
    regression: mojibake shifts the whole profile). Spaces are stripped
    so the profile measures intra-word structure, not tokenization.

    Scale: one map-side fan-out of length-2 substrings, one
    (lang, bigram) hash agg with map-side combine, a per-lang top-k
    window over the band-bounded aggregate."""
    docs = _docs_par(spark, sf_dir)
    bg = (
        docs.select(
            "lang", F.regexp_replace("text", " ", "").alias("s")
        )
        .filter(F.length("s") >= 2)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(s) - 1),"
                    " i -> substring(s, i, 2))"
                )
            ).alias("bg"),
        )
    )
    cnt = bg.groupBy("lang", "bg").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=True)  # band-bounded; feeds totals + rank
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("t"))
    w = W.partitionBy("lang").orderBy(F.desc("c"), F.asc("bg"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CHAR_BG_TOP)
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            F.col("rank").cast("int").alias("rank"),
            F.col("bg").alias("bigram"),
            F.col("c").cast("long").alias("n_occurrences"),
            F.expr(rat_round6_spark("c", "t")).alias("share_r6"),
        )
        .orderBy("lang", "rank")
    )


ORACLE_CHAR_BIGRAM_TOPK = f"""
WITH bg AS (
  SELECT lang, substr(s, i, 2) AS bg
  FROM (SELECT lang, replace(text, ' ', '') AS s FROM documents),
       LATERAL unnest(generate_series(1, length(s) - 1)) AS u(i)
  WHERE length(s) >= 2),
cnt AS MATERIALIZED (
  SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
ranked AS (
  SELECT lang, bg, c,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY c DESC, bg) AS rank
  FROM cnt)
SELECT r.lang AS lang, CAST(rank AS INT) AS rank, bg AS bigram,
       c AS n_occurrences,
       {rat_round6_duck("c", "t")} AS share_r6
FROM ranked r JOIN tot ON r.lang = tot.lang
WHERE rank <= {CHAR_BG_TOP}
ORDER BY r.lang, rank
"""


# --------------------------------------------------------------------------
# Events family (batch C): CUSUM extrema, dow×hour heatmap, type
# affinity skew, newcomer share, peak-hour load ratio
# --------------------------------------------------------------------------

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "events")


_CENTS = "cast(floor(value * 100 + 0.5) as bigint)"
_CENTS_DUCK = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
_US = "unix_micros(cast(ts as timestamp))"
_US_DUCK = "epoch_us(ts)"


def ev_value_cusum_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM extrema of spend: the running sum of CENTERED
    per-event cents S_i = Σ_{{j≤i}} (n·c_j − T) (n = user's event
    count, T = user's total cents — centering by n·c−T instead of
    c−T/n keeps everything INTEGER, no division anywhere), reporting
    max drawup, max drawdown, and the range. The classic
    change-detection readout: a user whose spend level shifts
    mid-history has a large |extremum|; a steady spender hovers near
    zero. Event order is the total (ts, event_id) order, so the
    running sum is deterministic under ties.

    Scale: one user-keyed window cumsum + one user-grain agg — the
    sessionization shuffle shape. n·c ≤ 5e4 cents × per-user counts
    keeps every intermediate far below 2^63."""
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.expr(_CENTS).alias("c")
    )
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("c").cast("long").alias("total_cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.expr(_US), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = (
        ev.join(F.broadcast(per_user), "user_id")
        .withColumn(
            "s",
            F.sum(
                F.expr("n_events * c") - F.col("total_cents")
            ).over(w),
        )
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.first("n_events").alias("n_events"),
            F.first("total_cents").alias("total_cents"),
            F.max("s").cast("long").alias("cusum_max"),
            F.min("s").cast("long").alias("cusum_min"),
        )
        .select(
            "user_id",
            "n_events",
            "total_cents",
            "cusum_max",
            "cusum_min",
            (F.col("cusum_max") - F.col("cusum_min"))
            .cast("long")
            .alias("cusum_range"),
        )
        .orderBy("user_id")
    )


ORACLE_CUSUM_EXTREMA = f"""
WITH e AS (
  SELECT user_id, {_US_DUCK} AS us, event_id, {_CENTS_DUCK} AS c
  FROM events),
pu AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(c) AS BIGINT) AS total_cents
  FROM e GROUP BY 1),
s AS (
  SELECT e.user_id, pu.n_events, pu.total_cents,
         SUM(pu.n_events * e.c - pu.total_cents) OVER (
           PARTITION BY e.user_id ORDER BY e.us, e.event_id
           ROWS UNBOUNDED PRECEDING) AS s
  FROM e JOIN pu USING (user_id))
SELECT user_id, n_events, total_cents,
       CAST(MAX(s) AS BIGINT) AS cusum_max,
       CAST(MIN(s) AS BIGINT) AS cusum_min,
       CAST(MAX(s) - MIN(s) AS BIGINT) AS cusum_range
FROM s GROUP BY 1, 2, 3 ORDER BY user_id
"""


def ev_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-of-week × hour-of-day activity heatmap — the capacity /
    anomaly baseline grid every event pipeline keeps. Both axes are
    derived by PURE INTEGER arithmetic on epoch microseconds
    (dow = (epoch_days + 4) % 7 with 0 = Sunday — 1970-01-01 was a
    Thursday), so no engine calendar function (with its tz/locale
    ambiguity) is in the loop. Cells carry event counts, exact cent
    sums and the exact share of all events.

    Scale: map-side integer projection + one 168-cell-bounded agg."""
    ev = _events(spark, sf_dir)
    cells = (
        ev.select(
            F.expr(f"(({_US}) div 86400000000 + 4) % 7").alias("dow"),
            F.expr(f"(({_US}) div 3600000000) % 24").alias("hour"),
            F.expr(_CENTS).alias("c"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("c").cast("long").alias("value_cents"),
        )
        .localCheckpoint(eager=True)  # 168-row bounded; feeds total+readout
    )
    tot = cells.agg(F.sum("n_events").cast("long").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hour").cast("int").alias("hour"),
            "n_events",
            "value_cents",
            F.expr(rat_round6_spark("n_events", "n_total")).alias(
                "event_share_r6"
            ),
        )
        .orderBy("dow", "hour")
    )


ORACLE_DOW_HOUR_HEATMAP = f"""
WITH cells AS MATERIALIZED (
  SELECT ({_US_DUCK} // 86400000000 + 4) % 7 AS dow,
         ({_US_DUCK} // 3600000000) % 24 AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM({_CENTS_DUCK}) AS BIGINT) AS value_cents
  FROM events GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM cells)
SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour,
       n_events, value_cents,
       {rat_round6_duck("n_events", "n_total")} AS event_share_r6
FROM cells CROSS JOIN tot
ORDER BY dow, hour
"""


EV_AFFINITY_FACTOR = 2  # over-indexed: personal share >= this x global


def ev_type_affinity_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: how many users OVER-INDEX on it — personal type
    share at least {EV_AFFINITY_FACTOR}× the global share (integer
    cross-multiply u_t·N ≥ {EV_AFFINITY_FACTOR}·n_t·u_total, no
    division) — the behavioral-segment readout (a type whose volume
    comes from a few obsessive users vs one spread evenly; bot
    detection reads the same table). Exact global/user shares as
    half-up rationals.

    Scale: one (user, type) hash agg, one user-grain re-agg joined
    back, one type-bounded rollup; the global totals ride a broadcast."""
    ev = _events(spark, sf_dir)
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("u_t")
    ).localCheckpoint(eager=True)  # feeds user totals + rollup
    utot = ut.groupBy("user_id").agg(F.sum("u_t").alias("u_tot"))
    ttot = ut.groupBy("event_type").agg(F.sum("u_t").alias("n_t"))
    n_total = ev.count()  # scalar: global event count
    flagged = (
        ut.join(utot, "user_id")
        .join(F.broadcast(ttot), "event_type")
        .select(
            "event_type",
            (
                F.expr(f"u_t * {n_total}L")
                >= F.expr(f"{EV_AFFINITY_FACTOR}L * n_t * u_tot")
            ).cast("long").alias("over"),
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("over").cast("long").alias("n_overindexed"),
        )
        .join(F.broadcast(ttot), "event_type")
        .select(
            "event_type",
            F.col("n_t").cast("long").alias("n_events"),
            "n_users",
            "n_overindexed",
            F.expr(rat_round6_spark("n_t", str(n_total))).alias(
                "global_share_r6"
            ),
            F.expr(rat_round6_spark("n_overindexed", "n_users")).alias(
                "overindex_user_share_r6"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_TYPE_AFFINITY = f"""
WITH ut AS MATERIALIZED (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS u_t
  FROM events GROUP BY 1, 2),
utot AS (SELECT user_id, CAST(SUM(u_t) AS BIGINT) AS u_tot
         FROM ut GROUP BY 1),
ttot AS (SELECT event_type, CAST(SUM(u_t) AS BIGINT) AS n_t
         FROM ut GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
flagged AS (
  SELECT ut.event_type,
         CASE WHEN ut.u_t * nt.n
                >= {EV_AFFINITY_FACTOR} * ttot.n_t * utot.u_tot
              THEN 1 ELSE 0 END AS over
  FROM ut JOIN utot USING (user_id) JOIN ttot USING (event_type)
  CROSS JOIN nt)
SELECT f.event_type, ttot.n_t AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(over) AS BIGINT) AS n_overindexed,
       {rat_round6_duck("ttot.n_t", "nt.n")} AS global_share_r6,
       {rat_round6_duck("CAST(SUM(over) AS BIGINT)",
                        "CAST(COUNT(*) AS BIGINT)")}
         AS overindex_user_share_r6
FROM flagged f JOIN ttot USING (event_type) CROSS JOIN nt
GROUP BY 1, 2, nt.n ORDER BY f.event_type
"""


def ev_daily_newcomer_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per calendar day (epoch days — integer, tz-free): how much of the
    day's traffic comes from users seen for the FIRST time that day —
    the growth-vs-retention decomposition every DAU dashboard carries
    (a spike of newcomer events is an acquisition burst or a bot wave;
    organic growth shows a steady share). First-seen day is a per-user
    min; newcomer events are the day's events by those users.

    Scale: one user-grain min-agg (map-side combinable), one broadcast
    join back, one day-bounded rollup."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.expr(f"({_US}) div 86400000000").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ev.join(F.broadcast(first), "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum((F.col("day") == F.col("first_day")).cast("long"))
            .cast("long")
            .alias("n_newcomer_events"),
            F.countDistinct(
                F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
            )
            .cast("long")
            .alias("n_new_users"),
        )
        .select(
            F.col("day").cast("long").alias("day"),
            "n_events",
            "n_newcomer_events",
            "n_new_users",
            F.expr(
                rat_round6_spark("n_newcomer_events", "n_events")
            ).alias("newcomer_share_r6"),
        )
        .orderBy("day")
    )


ORACLE_DAILY_NEWCOMER = f"""
WITH e AS (
  SELECT user_id, {_US_DUCK} // 86400000000 AS day FROM events),
first AS (
  SELECT user_id, MIN(day) AS first_day FROM e GROUP BY 1),
agg AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS n_newcomer_events,
         CAST(COUNT(DISTINCT CASE WHEN day = first_day
                                  THEN e.user_id END) AS BIGINT)
           AS n_new_users
  FROM e JOIN first USING (user_id) GROUP BY 1)
SELECT CAST(day AS BIGINT) AS day, n_events, n_newcomer_events,
       n_new_users,
       {rat_round6_duck("n_newcomer_events", "n_events")}
         AS newcomer_share_r6
FROM agg ORDER BY day
"""


def ev_peak_hour_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per calendar day: the peak-to-mean hourly load ratio — the
    capacity-planning number (a ratio near 1 means flat load; a spiky
    service provisions for the peak). peak_to_mean = peak_count ·
    n_active_hours / n_events as an exact half-up micro rational;
    the peak hour ties to the lowest hour.

    Scale: one (day, hour) agg, one day-grain re-agg — both
    calendar-bounded; pure integer time axes."""
    ev = _events(spark, sf_dir)
    hourly = (
        ev.select(
            F.expr(f"({_US}) div 86400000000").alias("day"),
            F.expr(f"(({_US}) div 3600000000) % 24").alias("hour"),
        )
        .groupBy("day", "hour")
        .agg(F.count("*").alias("c"))
    )
    return (
        hourly.groupBy("day")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_active_hours"),
            F.max(F.struct(F.col("c"), (-F.col("hour")).alias("nh")))
            .alias("pk"),
        )
        .select(
            F.col("day").cast("long").alias("day"),
            "n_events",
            "n_active_hours",
            (-F.col("pk.nh")).cast("int").alias("peak_hour"),
            F.col("pk.c").cast("long").alias("peak_count"),
            F.expr(
                qrem_round6_spark(
                    "pk.c * n_active_hours", "n_events"
                )
            ).alias("peak_to_mean_r6"),
        )
        .orderBy("day")
    )


ORACLE_PEAK_HOUR = f"""
WITH hourly AS (
  SELECT {_US_DUCK} // 86400000000 AS day,
         ({_US_DUCK} // 3600000000) % 24 AS hour,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT day, hour, c,
         ROW_NUMBER() OVER (PARTITION BY day
                            ORDER BY c DESC, hour) AS rn,
         CAST(SUM(c) OVER (PARTITION BY day) AS BIGINT) AS n_events,
         CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT)
           AS n_active_hours
  FROM hourly)
SELECT CAST(day AS BIGINT) AS day, n_events, n_active_hours,
       CAST(hour AS INT) AS peak_hour, c AS peak_count,
       {qrem_round6_duck("c * n_active_hours", "n_events")}
         AS peak_to_mean_r6
FROM ranked WHERE rn = 1 ORDER BY day
"""


# --------------------------------------------------------------------------
# Orders / lineitem family (batch D)
# --------------------------------------------------------------------------

PRICE_BAND_TOP = 1 << 62  # guard: bands come from bit_length, no cap needed


def orders_price_band_month_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly order-value mix in log2 price bands — the distribution
    drift grid (a month whose mass shifts one band is a pricing change
    or a data bug; the chi-square drift tests upstream read exactly
    this table). Band = bit_length of the order's total cents via
    LENGTH(bin(x)) (the shared log2-band idiom); shares are exact
    per-month rationals.

    Scale: map-side band projection + one (month × band)-bounded agg;
    one month-grain re-agg for the denominators."""
    orders = catalog.load(spark, sf_dir, "orders")
    cells = (
        orders.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .alias("ym"),
            F.expr(
                "length(bin(cast(floor(o_totalprice * 100 + 0.5)"
                " as bigint)))"
            ).alias("band"),
        )
        .groupBy("ym", "band")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .localCheckpoint(eager=True)  # cell-bounded; feeds totals + readout
    )
    tot = cells.groupBy("ym").agg(
        F.sum("n_orders").cast("long").alias("n_month")
    )
    return (
        cells.join(F.broadcast(tot), "ym")
        .select(
            F.col("ym").cast("int").alias("ym"),
            F.col("band").cast("int").alias("price_band_log2"),
            "n_orders",
            "n_month",
            F.expr(rat_round6_spark("n_orders", "n_month")).alias(
                "band_share_r6"
            ),
        )
        .orderBy("ym", "price_band_log2")
    )


ORACLE_PRICE_BAND_MIX = f"""
WITH cells AS MATERIALIZED (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         length(bin(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)))
           AS band,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2),
tot AS (SELECT ym, CAST(SUM(n_orders) AS BIGINT) AS n_month
        FROM cells GROUP BY 1)
SELECT CAST(cells.ym AS INT) AS ym,
       CAST(band AS INT) AS price_band_log2, n_orders, n_month,
       {rat_round6_duck("n_orders", "n_month")} AS band_share_r6
FROM cells JOIN tot ON cells.ym = tot.ym
ORDER BY ym, price_band_log2
"""


def orders_repeat_customer_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly first-order vs repeat-order decomposition: an order is a
    REPEAT if its customer has a strictly earlier order under the
    total (o_orderdate, o_orderkey) order — the acquisition-vs-
    retention revenue split every commerce dashboard leads with.
    Counts, exact repeat share, and cent-exact repeat revenue share.

    Scale: one customer-keyed window rank (the dedup_first shuffle
    shape), one month-bounded rollup."""
    orders = catalog.load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        .alias("cents"),
        (F.row_number().over(w) >= 2).alias("repeat"),
    )
    return (
        ranked.groupBy("ym")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("repeat").cast("long")).cast("long")
            .alias("n_repeat"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum(F.when(F.col("repeat"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("repeat_revenue_cents"),
        )
        .select(
            F.col("ym").cast("int").alias("ym"),
            "n_orders",
            "n_repeat",
            F.expr(rat_round6_spark("n_repeat", "n_orders")).alias(
                "repeat_share_r6"
            ),
            "revenue_cents",
            "repeat_revenue_cents",
        )
        .orderBy("ym")
    )


ORACLE_REPEAT_CUSTOMER = f"""
WITH ranked AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) >= 2
           AS repeat
  FROM orders)
SELECT CAST(ym AS INT) AS ym,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN repeat THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       {rat_round6_duck(
           "CAST(SUM(CASE WHEN repeat THEN 1 ELSE 0 END) AS BIGINT)",
           "CAST(COUNT(*) AS BIGINT)")} AS repeat_share_r6,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN repeat THEN cents ELSE 0 END) AS BIGINT)
         AS repeat_revenue_cents
FROM ranked GROUP BY 1 ORDER BY ym
"""


UNIT_OUTLIER_FACTOR = 2  # hi: unit > factor*median; lo: factor*unit < median


def lineitem_unit_price_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-brand unit-price outlier audit: the exact type-1 MEDIAN unit
    price (extendedprice/quantity in cents — the lower median at rank
    (n+1) div 2 under the total (unit_cents, l_orderkey, l_linenumber)
    order) and the counts of lines beyond {UNIT_OUTLIER_FACTOR}× above
    / below it — the data-quality sweep that catches mispriced SKUs
    and unit-of-measure bugs before they hit revenue metrics. All
    comparisons are integer cross-multiplies.

    Scale: the part dimension broadcasts onto the fact scan; the
    median needs one brand-keyed sort-window (the exact-percentile
    posture); outlier flagging is one more broadcast join of the
    brand-bounded median table."""
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    lines = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(
            "p_brand",
            "l_orderkey",
            "l_linenumber",
            F.expr(
                "cast(floor(l_extendedprice / l_quantity * 100 + 0.5)"
                " as bigint)"
            ).alias("unit_cents"),
        )
        .localCheckpoint(eager=True)  # feeds the median rank + the flagging
    )
    wr = W.partitionBy("p_brand").orderBy(
        "unit_cents", "l_orderkey", "l_linenumber"
    )
    wn = W.partitionBy("p_brand")
    med = (
        lines.withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "p_brand",
            F.col("n").cast("long").alias("n_lines"),
            F.col("unit_cents").alias("median_unit_cents"),
        )
    )
    return (
        lines.join(F.broadcast(med), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.first("n_lines").alias("n_lines"),
            F.first("median_unit_cents").alias("median_unit_cents"),
            F.sum(
                (
                    F.col("unit_cents")
                    > UNIT_OUTLIER_FACTOR * F.col("median_unit_cents")
                ).cast("long")
            ).cast("long").alias("n_outliers_hi"),
            F.sum(
                (
                    UNIT_OUTLIER_FACTOR * F.col("unit_cents")
                    < F.col("median_unit_cents")
                ).cast("long")
            ).cast("long").alias("n_outliers_lo"),
        )
        .select(
            "p_brand",
            "n_lines",
            "median_unit_cents",
            "n_outliers_hi",
            "n_outliers_lo",
            F.expr(
                rat_round6_spark(
                    "n_outliers_hi + n_outliers_lo", "n_lines"
                )
            ).alias("outlier_share_r6"),
        )
        .orderBy("p_brand")
    )


ORACLE_UNIT_PRICE_OUTLIERS = f"""
WITH lines AS MATERIALIZED (
  SELECT p_brand, l_orderkey, l_linenumber,
         CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)
           AS unit_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey),
med AS (
  SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
         unit_cents AS median_unit_cents
  FROM (
    SELECT p_brand, unit_cents,
           ROW_NUMBER() OVER (PARTITION BY p_brand
             ORDER BY unit_cents, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY p_brand) AS n
    FROM lines)
  WHERE rn = (n + 1) // 2)
SELECT l.p_brand AS p_brand, med.n_lines, med.median_unit_cents,
       CAST(SUM(CASE WHEN l.unit_cents
                       > {UNIT_OUTLIER_FACTOR} * med.median_unit_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_hi,
       CAST(SUM(CASE WHEN {UNIT_OUTLIER_FACTOR} * l.unit_cents
                       < med.median_unit_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_lo,
       {rat_round6_duck(
           "CAST(SUM(CASE WHEN l.unit_cents > "
           f"{UNIT_OUTLIER_FACTOR} * med.median_unit_cents "
           "THEN 1 ELSE 0 END) + SUM(CASE WHEN "
           f"{UNIT_OUTLIER_FACTOR} * l.unit_cents "
           "< med.median_unit_cents THEN 1 ELSE 0 END) AS BIGINT)",
           "med.n_lines")} AS outlier_share_r6
FROM lines l JOIN med ON l.p_brand = med.p_brand
GROUP BY 1, 2, 3 ORDER BY p_brand
"""


MONTH_END_DAYS = 3  # "month-end" = the last this-many calendar days


def orders_month_end_loading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end loading: the share of each month's orders (and cents)
    landing in the last {MONTH_END_DAYS} calendar days — the
    sandbagging / quota-stuffing fingerprint finance audits look for
    (uniform arrivals put ~10% there; quota-driven sales put 30%+).
    Both engines agree on last_day(), and the flag is a plain
    day-of-month comparison.

    Scale: map-side flag + month-bounded agg."""
    orders = catalog.load(spark, sf_dir, "orders")
    flagged = orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        .alias("cents"),
        (
            F.dayofmonth("o_orderdate")
            > F.dayofmonth(F.last_day("o_orderdate")) - MONTH_END_DAYS
        ).alias("tail"),
    )
    return (
        flagged.groupBy("ym")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("tail").cast("long")).cast("long")
            .alias("n_month_end"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum(F.when(F.col("tail"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("month_end_cents"),
        )
        .select(
            F.col("ym").cast("int").alias("ym"),
            "n_orders",
            "n_month_end",
            F.expr(rat_round6_spark("n_month_end", "n_orders")).alias(
                "month_end_share_r6"
            ),
            "revenue_cents",
            "month_end_cents",
        )
        .orderBy("ym")
    )


ORACLE_MONTH_END_LOADING = f"""
WITH flagged AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         day(o_orderdate) > day(last_day(o_orderdate)) - {MONTH_END_DAYS}
           AS tail
  FROM orders)
SELECT CAST(ym AS INT) AS ym,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN tail THEN 1 ELSE 0 END) AS BIGINT)
         AS n_month_end,
       {rat_round6_duck(
           "CAST(SUM(CASE WHEN tail THEN 1 ELSE 0 END) AS BIGINT)",
           "CAST(COUNT(*) AS BIGINT)")} AS month_end_share_r6,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN tail THEN cents ELSE 0 END) AS BIGINT)
         AS month_end_cents
FROM flagged GROUP BY 1 ORDER BY ym
"""


# --------------------------------------------------------------------------
# Embeddings family (batch E)
# --------------------------------------------------------------------------

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "embeddings")


_EMB_Q_SQL = (
    "transform(embedding, x -> "
    "cast(cast(x as double) * 1048576.0 as bigint))"
)  # the canonical 2^-20 kmeans grid (similarity._KM_QUANT_SQL)


def emb_quantile_clip_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension p1/p99 clip bounds on the quantized grid — the fit
    step for outlier-robust quantization / whitening (clip-then-scale
    is how int8 calibration actually ships). EXACT type-1 percentiles:
    value at rank (p·n + 99) div 100 under the total (value, vec_id)
    order (never quantile_cont), plus the count of values outside the
    open (p1, p99) interval — the mass the clip would touch.

    Scale: one posexplode fan-out, EMB_DIM-partition window ranks (the
    exact-percentile posture; each partition is corpus-sized but the
    sort key is a fixed-width integer), one bounded join back for the
    clip counts. Output is EMB_DIM rows regardless of corpus size."""
    emb = _emb(spark, sf_dir)
    vals = emb.select(
        "vec_id", F.posexplode(F.expr(_EMB_Q_SQL)).alias("dim", "qv")
    ).localCheckpoint(eager=True)  # feeds rank + clip-count passes
    wr = W.partitionBy("dim").orderBy("qv", "vec_id")
    wn = W.partitionBy("dim")
    ranked = vals.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    bounds = (
        ranked.filter(
            (F.col("rn") == F.expr("(1 * n + 99) div 100"))
            | (F.col("rn") == F.expr("(99 * n + 99) div 100"))
        )
        .groupBy("dim")
        .agg(
            F.first("n").cast("long").alias("n"),
            F.min("qv").alias("p01_q"),
            F.max("qv").alias("p99_q"),
        )
    )
    return (
        vals.join(F.broadcast(bounds), "dim")
        .groupBy("dim")
        .agg(
            F.first("n").alias("n_vectors"),
            F.first("p01_q").alias("p01_q"),
            F.first("p99_q").alias("p99_q"),
            F.sum((F.col("qv") < F.col("p01_q")).cast("long"))
            .cast("long")
            .alias("n_below"),
            F.sum((F.col("qv") > F.col("p99_q")).cast("long"))
            .cast("long")
            .alias("n_above"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n_vectors", "p01_q", "p99_q", "n_below", "n_above",
        )
        .orderBy("dim")
    )


ORACLE_QUANTILE_CLIP = """
WITH vals AS MATERIALIZED (
  SELECT vec_id, d.dim,
         CAST(TRUNC(CAST(embedding[d.dim + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS qv
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS dim) d),
ranked AS (
  SELECT dim, qv,
         ROW_NUMBER() OVER (PARTITION BY dim ORDER BY qv, vec_id) AS rn,
         COUNT(*) OVER (PARTITION BY dim) AS n
  FROM vals),
bounds AS (
  SELECT dim, CAST(MAX(n) AS BIGINT) AS n,
         CAST(MIN(qv) AS BIGINT) AS p01_q,
         CAST(MAX(qv) AS BIGINT) AS p99_q
  FROM ranked
  WHERE rn = (1 * n + 99) // 100 OR rn = (99 * n + 99) // 100
  GROUP BY 1)
SELECT CAST(v.dim AS INT) AS dim, b.n AS n_vectors, b.p01_q, b.p99_q,
       CAST(SUM(CASE WHEN v.qv < b.p01_q THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below,
       CAST(SUM(CASE WHEN v.qv > b.p99_q THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above
FROM vals v JOIN bounds b ON v.dim = b.dim
GROUP BY 1, 2, 3, 4 ORDER BY dim
"""


GRID_SIGN_DIMS = 8  # leading dims whose sign bits form the cell id


def emb_grid_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-grid occupancy: each vector maps to the {GRID_SIGN_DIMS}-bit
    cell of its leading-dimension signs (the cheapest LSH bucketing)
    and the table reports per-cell occupancy — the balance diagnostic
    for hyperplane bucketing (uniform occupancy → good recall per
    probe; a fat cell → that bucket degenerates to a scan). Exact
    shares; cell ids are pure sign arithmetic.

    Scale: map-side bit-fold + one 2^{GRID_SIGN_DIMS}-bounded agg."""
    emb = _emb(spark, sf_dir)
    cell = F.expr(
        f"aggregate(sequence(0, {GRID_SIGN_DIMS - 1}), 0L, (acc, d) -> "
        f"acc + case when cast(element_at(embedding, d + 1) as double)"
        f" > 0.0d then shiftleft(1L, d) else 0L end)"
    )
    cells = (
        emb.select(cell.alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .localCheckpoint(eager=True)  # bounded; feeds total + readout
    )
    tot = cells.agg(F.sum("n_vectors").cast("long").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vectors",
            F.expr(rat_round6_spark("n_vectors", "n_total")).alias(
                "share_r6"
            ),
        )
        .orderBy("cell")
    )


ORACLE_GRID_CELL_DENSITY = f"""
WITH cells AS MATERIALIZED (
  SELECT CAST(list_sum(list_transform(range(0, {GRID_SIGN_DIMS}),
           d -> CASE WHEN CAST(embedding[d + 1] AS DOUBLE) > 0.0
                     THEN CAST(1 AS BIGINT) << d ELSE 0 END)) AS BIGINT)
           AS cell,
         1 AS one
  FROM embeddings),
agg AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total FROM agg)
SELECT CAST(cell AS INT) AS cell, n_vectors,
       {rat_round6_duck("n_vectors", "n_total")} AS share_r6
FROM agg CROSS JOIN tot ORDER BY cell
"""


def emb_centroid_margin_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Assignment-confidence profile of the kmeans clustering: per
    vector, the integer margin between its SECOND-closest and closest
    final centroid (margin 0 = sits on a boundary; large margin = deep
    inside its cell), rolled up as a log2-band histogram with exact
    min/max margins per band — the readout that says whether an IVF
    routing built on these centroids will be stable under nprobe.

    Scale: one map-only distance fold per centroid over the broadcast
    K×D literal (the ``_km_assign`` posture, widened to keep the top-2
    instead of the argmin), then a band-bounded agg."""
    from .similarity import _km_cent_sql, _km_loop as _kml

    assigned, cent = _kml(spark, sf_dir)
    dists = assigned.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform({_km_cent_sql(cent)}, cv -> "
                "aggregate(zip_with(qv, cv, (x, c) -> (x - c) * (x - c)),"
                " cast(0 as bigint), (acc, v) -> acc + v))"
            )
        ).alias("cid", "d2"),
    )
    wr = W.partitionBy("vec_id").orderBy("d2", "cid")
    top2 = (
        dists.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2_2"),
            F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("d2_1"),
        )
        .select(
            "vec_id", (F.col("d2_2") - F.col("d2_1")).alias("margin")
        )
    )
    return (
        top2.groupBy(
            F.expr("length(bin(margin))").cast("int").alias(
                "margin_band_log2"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.min("margin").cast("long").alias("min_margin"),
            F.max("margin").cast("long").alias("max_margin"),
        )
        .orderBy("margin_band_log2")
    )


ORACLE_CENTROID_MARGIN = f"""
{_KM_ORACLE_PREFIX},
top2 AS (
  SELECT vec_id,
         CAST(MAX(CASE WHEN rn = 2 THEN d2 END)
              - MAX(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS margin
  FROM (
    SELECT vec_id, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rn
    FROM d{KM_ITERS})
  WHERE rn <= 2 GROUP BY 1)
SELECT CAST(length(bin(margin)) AS INT) AS margin_band_log2,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(margin) AS BIGINT) AS min_margin,
       CAST(MAX(margin) AS BIGINT) AS max_margin
FROM top2 GROUP BY 1 ORDER BY margin_band_log2
"""


def emb_dim_sign_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension sign balance — the health check for every
    sign-based sketch in the engine (binary hamming, hyperplane LSH,
    the sign-grid cells): a dimension whose positive share drifts from
    1/2 wastes sketch bits. Reports exact positive counts, the half-up
    positive share, and the integer imbalance |2·n_pos − n| (0 =
    perfectly balanced), ranked worst-first by that exact key.

    Scale: one posexplode + one EMB_DIM-bounded agg; the sort is over
    64 rows."""
    emb = _emb(spark, sf_dir)
    per_dim = (
        emb.select(
            F.posexplode(
                F.expr("transform(embedding, x -> cast(x as double))")
            ).alias("dim", "v")
        )
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum((F.col("v") > 0.0).cast("long")).cast("long")
            .alias("n_pos"),
        )
    )
    return (
        per_dim.select(
            F.col("dim").cast("int").alias("dim"),
            "n_vectors",
            "n_pos",
            F.expr(rat_round6_spark("n_pos", "n_vectors")).alias(
                "pos_share_r6"
            ),
            F.expr("abs(2 * n_pos - n_vectors)").cast("long").alias(
                "abs_imbalance"
            ),
        )
        .orderBy(F.desc("abs_imbalance"), F.asc("dim"))
    )


ORACLE_DIM_SIGN_BALANCE = f"""
WITH per_dim AS (
  SELECT d.dim, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(SUM(CASE WHEN CAST(embedding[d.dim + 1] AS DOUBLE) > 0.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS dim) d
  GROUP BY 1)
SELECT CAST(dim AS INT) AS dim, n_vectors, n_pos,
       {rat_round6_duck("n_pos", "n_vectors")} AS pos_share_r6,
       CAST(abs(2 * n_pos - n_vectors) AS BIGINT) AS abs_imbalance
FROM per_dim ORDER BY abs_imbalance DESC, dim
"""


# --------------------------------------------------------------------------
# Sketch / stats / multimodal family (batch F)
# --------------------------------------------------------------------------

KMV_SET_K = 32  # bottom-k per priority sketch (the sketch_kmv_distinct k)
KMV_SET_HEX = 13  # 52-bit md5 lane — (k-1)*2^52 stays far inside BIGINT


def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS between customer populations: per
    order-priority, a bottom-{KMV_SET_K} KMV sketch of the distinct
    customer set; per priority PAIR, the union estimate from the merged
    k-th minimum, the Jaccard estimate (matching hashes among the
    merged bottom-k — the DataSketches theta-intersection rule) and the
    derived intersection estimate. This is the sketch family's whole
    selling point over HLL: unions AND intersections from
    constant-size state — audience-overlap analytics without a single
    exact distinct-count shuffle. Fixed 52-bit md5 lanes → every
    estimate is a pure function of the input multiset → full
    value-hash oracle.

    Scale: the sketch build is the two-stage bounded top-k of
    sketch_kmv_distinct (salt-local cut, then per-priority cut on
    ≤64·k rows); all pair math runs on ≤ P·{KMV_SET_K} pooled hashes
    against a P²-bounded pair list — constant exchange regardless of
    corpus size."""
    orders = catalog.load(spark, sf_dir, "orders")
    h = orders.select(
        F.col("o_orderpriority").alias("p"),
        F.expr(
            f"cast(conv(substring(md5(concat('kmvc:',"
            f" cast(o_custkey as string))), 1, {KMV_SET_HEX}), 16, 10)"
            " as bigint)"
        ).alias("h"),
    ).distinct()
    w1 = W.partitionBy("p", F.expr("h % 64")).orderBy("h")
    pool = (
        h.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= KMV_SET_K)
        .drop("rn")
    )
    w2 = W.partitionBy("p").orderBy("h")
    sk = (
        pool.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= KMV_SET_K)
        .drop("rn")
        .localCheckpoint(eager=True)  # ≤ P·k sketch rows; feeds pair merge
    )
    pr = sk.select("p").distinct()
    pairs = (
        pr.select(F.col("p").alias("p_lo"))
        .crossJoin(pr.select(F.col("p").alias("p_hi")))
        .filter(F.col("p_lo") < F.col("p_hi"))
    )
    merged = (
        F.broadcast(pairs)
        .join(sk, (sk["p"] == pairs["p_lo"]) | (sk["p"] == pairs["p_hi"]))
        .groupBy("p_lo", "p_hi", "h")
        .agg(F.count("*").alias("n_sk"))  # h distinct per p → 1 or 2
    )
    w3 = W.partitionBy("p_lo", "p_hi").orderBy("h")
    cut = (
        merged.withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") <= KMV_SET_K)
        .groupBy("p_lo", "p_hi")
        .agg(
            F.count("*").cast("long").alias("k_used"),
            F.max("h").alias("kth_hash"),
            F.sum((F.col("n_sk") == 2).cast("long")).cast("long")
            .alias("n_match"),
        )
    )
    union_est = (
        f"case when k_used < {KMV_SET_K} then k_used else "
        f"cast({KMV_SET_K - 1} as bigint) * {1 << (4 * KMV_SET_HEX)}"
        " div kth_hash end"
    )
    return (
        cut.withColumn("union_est", F.expr(union_est).cast("long"))
        .select(
            "p_lo",
            "p_hi",
            "k_used",
            "union_est",
            "n_match",
            F.expr(rat_round6_spark("n_match", "k_used")).alias(
                "jaccard_est_r6"
            ),
            F.expr(
                qrem_round6_spark("n_match * union_est", "k_used")
            ).alias("inter_est_r6"),
        )
        .orderBy("p_lo", "p_hi")
    )


ORACLE_KMV_SETOPS = f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS p,
         CAST('0x' || substr(md5('kmvc:' || CAST(o_custkey AS VARCHAR)),
                             1, {KMV_SET_HEX}) AS BIGINT) AS h
  FROM orders),
sk AS MATERIALIZED (
  SELECT p, h FROM (
    SELECT p, h, ROW_NUMBER() OVER (PARTITION BY p ORDER BY h) AS rn
    FROM h) WHERE rn <= {KMV_SET_K}),
pr AS (SELECT DISTINCT p FROM sk),
pairs AS (
  SELECT a.p AS p_lo, b.p AS p_hi FROM pr a JOIN pr b ON a.p < b.p),
merged AS (
  SELECT p_lo, p_hi, h, CAST(COUNT(*) AS BIGINT) AS n_sk
  FROM pairs JOIN sk ON sk.p = pairs.p_lo OR sk.p = pairs.p_hi
  GROUP BY 1, 2, 3),
cut AS (
  SELECT p_lo, p_hi,
         CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(MAX(h) AS BIGINT) AS kth_hash,
         CAST(SUM(CASE WHEN n_sk = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_match
  FROM (
    SELECT p_lo, p_hi, h, n_sk,
           ROW_NUMBER() OVER (PARTITION BY p_lo, p_hi ORDER BY h) AS rn
    FROM merged)
  WHERE rn <= {KMV_SET_K} GROUP BY 1, 2),
est AS (
  SELECT p_lo, p_hi, k_used, n_match,
         CAST(CASE WHEN k_used < {KMV_SET_K} THEN k_used
                   ELSE {KMV_SET_K - 1} * {1 << (4 * KMV_SET_HEX)}
                        // kth_hash END AS BIGINT) AS union_est
  FROM cut)
SELECT p_lo, p_hi, k_used, union_est, n_match,
       {rat_round6_duck("n_match", "k_used")} AS jaccard_est_r6,
       {qrem_round6_duck("n_match * union_est", "k_used")}
         AS inter_est_r6
FROM est ORDER BY p_lo, p_hi
"""


CRC_PIVOT = "1998-01-01 00:00:00"  # capture window boundary


def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen / Chapman capture-recapture estimate of the
    customer population from two order windows (before/after
    {CRC_PIVOT}): n1 customers "captured" early, n2 late, m in both →
    N̂_LP = n1·n2/m, N̂_Chapman = (n1+1)(n2+1)/(m+1) − 1 (the
    small-sample-unbiased variant). The ecology estimator is exactly
    the dark-traffic / dedup-completeness estimate a data platform
    uses when it can only sample twice. Exact rationals; the true
    distinct count rides along as the audit column.

    Scale: three distinct-count aggregates over one scan (conditional
    distincts), one single-row readout."""
    orders = catalog.load(spark, sf_dir, "orders")
    pivot = F.lit(CRC_PIVOT).cast("timestamp_ntz")
    agg = orders.agg(
        F.countDistinct(
            F.when(F.col("o_orderdate") < pivot, F.col("o_custkey"))
        ).cast("long").alias("n1"),
        F.countDistinct(
            F.when(F.col("o_orderdate") >= pivot, F.col("o_custkey"))
        ).cast("long").alias("n2"),
        F.countDistinct("o_custkey").cast("long").alias("n_true"),
    ).withColumn("m", F.expr("n1 + n2 - n_true"))
    return agg.select(
        "n1",
        "n2",
        F.col("m").cast("long").alias("n_both"),
        "n_true",
        F.expr(
            "case when m >= 1 then "
            + qrem_round6_spark("n1 * n2", "m")
            + " end"
        ).alias("lincoln_petersen_r6"),
        F.expr(
            qrem_round6_spark("(n1 + 1) * (n2 + 1)", "(m + 1)")
            + " - 1.0d"
        ).alias("chapman_r6"),
    )


ORACLE_CAPTURE_RECAPTURE = f"""
WITH agg AS (
  SELECT CAST(COUNT(DISTINCT CASE WHEN o_orderdate
                < TIMESTAMP '{CRC_PIVOT}' THEN o_custkey END) AS BIGINT)
           AS n1,
         CAST(COUNT(DISTINCT CASE WHEN o_orderdate
                >= TIMESTAMP '{CRC_PIVOT}' THEN o_custkey END) AS BIGINT)
           AS n2,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_true
  FROM orders),
m AS (SELECT *, n1 + n2 - n_true AS m FROM agg)
SELECT n1, n2, CAST(m AS BIGINT) AS n_both, n_true,
       CASE WHEN m >= 1 THEN
         {qrem_round6_duck("n1 * n2", "m")} END AS lincoln_petersen_r6,
       {qrem_round6_duck("(n1 + 1) * (n2 + 1)", "(m + 1)")} - 1.0
         AS chapman_r6
FROM m
"""


CHUNK_W = 64  # bytes per aligned chunk (the mm_chunk_manifest grid)
CHUNK_TOP = 40


def mm_chunk_dedup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-payload CHUNK dedup: the {CHUNK_W}-byte aligned chunk grid
    of every payload is hashed (md5 over the HEX slice — the byte-grid
    convention of mm_chunk_manifest, non-ASCII-safe) and chunks whose
    hash appears in ≥2 DISTINCT payloads are reported — the
    content-addressed-storage dedup table (what a CAS blob store would
    deduplicate across assets) and the copied-asset detector. Top
    {CHUNK_TOP} by payload spread with full tie-breaks.

    Scale: map-side chunk fan-out (bytes/{CHUNK_W} rows per payload),
    one chunk-hash hash-agg with map-side combine, a TakeOrdered head
    cut. Only FULL chunks participate (tail fragments are unique by
    construction and would flood the table)."""
    from .multimodal import _assets

    assets = _assets(spark, sf_dir)
    withhx = assets.select(
        "doc_id",
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    )
    chunks = (
        withhx.filter(F.col("n") >= CHUNK_W)
        .select(
            "doc_id",
            "media_type",
            F.explode(
                F.expr(
                    f"transform(sequence(0, n div {CHUNK_W} - 1),"
                    f" i -> md5(substring(hx, i * {2 * CHUNK_W} + 1,"
                    f" {2 * CHUNK_W})))"
                )
            ).alias("chunk_hash"),
        )
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_payloads"),
            F.countDistinct("media_type").cast("long").alias(
                "n_media_types"
            ),
        )
        .filter(F.col("n_payloads") >= 2)
        .orderBy(
            F.desc("n_payloads"), F.desc("n_occurrences"), F.asc("chunk_hash")
        )
        .limit(CHUNK_TOP)
        .orderBy("chunk_hash")
    )


ORACLE_CHUNK_DEDUP_CROSS = f"""
WITH assets AS (
  SELECT doc_id, encode(text) AS payload,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type
  FROM documents),
withhx AS (
  SELECT doc_id, media_type, upper(hex(payload)) AS hx,
         octet_length(payload) AS n
  FROM assets),
chunks AS (
  SELECT doc_id, media_type,
         md5(substr(hx, i * {2 * CHUNK_W} + 1, {2 * CHUNK_W}))
           AS chunk_hash
  FROM withhx,
       LATERAL unnest(generate_series(0, n // {CHUNK_W} - 1)) AS u(i)
  WHERE n >= {CHUNK_W}),
agg AS (
  SELECT chunk_hash,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_payloads,
         CAST(COUNT(DISTINCT media_type) AS BIGINT) AS n_media_types
  FROM chunks GROUP BY 1
  HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT chunk_hash, n_occurrences, n_payloads, n_media_types
FROM (SELECT * FROM agg
      ORDER BY n_payloads DESC, n_occurrences DESC, chunk_hash
      LIMIT {CHUNK_TOP})
ORDER BY chunk_hash
"""


# --------------------------------------------------------------------------
# Continuation batch (r13 backlog, queued beyond the 50-slot window):
# component cohesion, local bridges, bucket-pair cosine histogram,
# payload byte stats, transition-gap medians, balance×activity grid,
# source bigram uniqueness, sign test, hourly MAD anomalies,
# supplier quartile grid
# --------------------------------------------------------------------------

def dedup_component_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weight cohesion per near-dup component: min/max/mean edge
    Jaccard inside each connected component — the quality gate on the
    dedup threshold itself (a component whose min edge sits at tau is
    a chain stitched by borderline pairs and should not be collapsed
    to one survivor; a tight clique has min ≈ max ≈ 1). Means are
    micro-rounded per edge then exactly averaged (the deterministic
    mean-of-rounded pattern).

    Scale: components come from the log-diameter star-contraction CC;
    the cohesion agg runs over the dup-bounded edge set after one
    doc-keyed join to attach component labels."""
    from .dedup import cc_components, dedup_ngram_jaccard

    edges = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    ).localCheckpoint(eager=True)  # dup-bounded; feeds CC + cohesion agg
    comp = cc_components(edges.select("doc_a", "doc_b"))
    lab = edges.join(
        comp.select(
            F.col("doc_id").alias("doc_a"), F.col("comp").alias("component_id")
        ),
        "doc_a",
    ).withColumn(
        "j_micro", F.expr("cast(floor(jaccard * 1000000 + 0.5) as bigint)")
    )
    nodes = comp.groupBy(F.col("comp").alias("component_id")).agg(
        F.count("*").cast("long").alias("n_nodes")
    )
    return (
        lab.groupBy("component_id")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
            F.sum("j_micro").alias("sum_micro"),
        )
        .join(nodes, "component_id")
        .select(
            "component_id",
            "n_nodes",
            "n_edges",
            "min_jaccard",
            "max_jaccard",
            F.expr(
                "cast((sum_micro * 2 + n_edges) div (2 * n_edges)"
                " as double) / 1000000.0"
            ).alias("mean_jaccard_r6"),
        )
        .orderBy("component_id")
    )


def _oracle_component_cohesion() -> str:
    from .dedup import ORACLE_CC

    marker = "SELECT doc_id, component_id,"
    assert marker in ORACLE_CC, "ORACLE_CC final SELECT reworded"
    closure = ORACLE_CC.split(marker)[0].rstrip()
    return f"""{closure},
je AS (
  SELECT dup.doc_a, dup.doc_b,
         inter * 1.0 / (x.n + y.n - inter) AS jaccard
  FROM dup
  JOIN pair USING (doc_a, doc_b)
  JOIN sz x ON dup.doc_a = x.doc_id JOIN sz y ON dup.doc_b = y.doc_id),
lab AS (
  SELECT c.component_id, je.jaccard,
         CAST(FLOOR(je.jaccard * 1000000 + 0.5) AS BIGINT) AS j_micro
  FROM je JOIN comp c ON je.doc_a = c.doc_id),
nodes AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM comp GROUP BY 1)
SELECT l.component_id, n.n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       MIN(jaccard) AS min_jaccard,
       MAX(jaccard) AS max_jaccard,
       CAST((SUM(j_micro) * 2 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / 1000000.0 AS mean_jaccard_r6
FROM lab l JOIN nodes n ON l.component_id = n.component_id
GROUP BY 1, 2 ORDER BY l.component_id
"""


def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-bridge audit of the near-dup graph: for every EXISTING
    edge, the count of common neighbors of its endpoints; an edge with
    zero common neighbors is a LOCAL BRIDGE — the single link stitching
    two otherwise-unrelated dup families together (exactly the edge a
    conservative dedup severs before collapsing components; the
    complement of graph_common_neighbors, which scores NON-edges).

    Scale: one wedge join keyed on the shared endpoint over the
    dup-bounded symmetric adjacency, one edge-grain agg — Σ min(deg)
    per edge, never all pairs."""
    edges, sym = _neardup_graph(spark, sf_dir)
    na = sym.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("n"))
    nb = sym.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("n"))
    common = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .join(na, "a")
        .join(nb, ["b", "n"])
        .filter((F.col("n") != F.col("a")) & (F.col("n") != F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    return (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .join(common, ["a", "b"], "left")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.coalesce("cn", F.lit(0)).cast("long").alias(
                "n_common_neighbors"
            ),
            (F.coalesce("cn", F.lit(0)) == 0).alias("is_local_bridge"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_LOCAL_BRIDGES = f"""
WITH {_GRAPH_SYM_CTES},
common AS (
  SELECT dup.doc_a AS a, dup.doc_b AS b,
         CAST(COUNT(*) AS BIGINT) AS cn
  FROM dup
  JOIN sym na ON na.doc_a = dup.doc_a
  JOIN sym nb ON nb.doc_a = dup.doc_b AND nb.doc_b = na.doc_b
  WHERE na.doc_b != dup.doc_a AND na.doc_b != dup.doc_b
  GROUP BY 1, 2)
SELECT dup.doc_a, dup.doc_b,
       COALESCE(cn, 0) AS n_common_neighbors,
       COALESCE(cn, 0) = 0 AS is_local_bridge
FROM dup LEFT JOIN common ON dup.doc_a = common.a AND dup.doc_b = common.b
ORDER BY dup.doc_a, dup.doc_b
"""


COS_HIST_DECI_MIN = -10  # cosine deciband floor (cos in [-1, 1])


def emb_bucket_pair_cos_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cosine histogram of CANDIDATE pairs inside the sign-grid buckets
    (the emb_grid_cell_density cells): the distribution an LSH
    threshold calibration reads — how similar bucket-mates actually
    are, in 0.1-wide cosine bands. Pairs are bucket-bounded (Σ|cell|²,
    never corpus²); the cosine is the exact IEEE quotient, banded by
    floor(cos·10) (deterministic — both engines compute the identical
    double).

    Scale: the bucket self-join is keyed on the cell id; at production
    scale cells are rebalanced by widening the sign prefix, exactly
    like LSH bands."""
    emb = _emb(spark, sf_dir)
    cell = F.expr(
        f"aggregate(sequence(0, {GRID_SIGN_DIMS - 1}), 0L, (acc, d) -> "
        f"acc + case when cast(element_at(embedding, d + 1) as double)"
        f" > 0.0d then shiftleft(1L, d) else 0L end)"
    )
    b = emb.select(
        "vec_id", cell.alias("cell"), "embedding"
    ).localCheckpoint(eager=True)  # bucketed frame self-joins below
    lo = b.select(
        F.col("cell").alias("cell_l"),
        F.col("vec_id").alias("u"),
        F.col("embedding").alias("qe"),
    )
    pairs = (
        b.join(lo, (b["cell"] == lo["cell_l"]) & (lo["u"] < b["vec_id"]))
        .select(
            F.expr(
                "aggregate(zip_with(qe, embedding, (x, y) ->"
                " cast(x as double) * cast(y as double)),"
                " cast(0.0 as double), (acc, v) -> acc + v)"
                " / (sqrt(aggregate(transform(qe, x -> cast(x as double)"
                " * cast(x as double)), cast(0.0 as double),"
                " (acc, v) -> acc + v))"
                " * sqrt(aggregate(transform(embedding, x ->"
                " cast(x as double) * cast(x as double)),"
                " cast(0.0 as double), (acc, v) -> acc + v)))"
            ).alias("cos")
        )
    )
    return (
        pairs.groupBy(
            F.expr("cast(floor(cos * 10) as int)").alias("cos_band_deci")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.min("cos"), 4).alias("min_cos_r4"),
            F.round(F.max("cos"), 4).alias("max_cos_r4"),
        )
        .orderBy("cos_band_deci")
    )


ORACLE_BUCKET_PAIR_COS = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         CAST(list_sum(list_transform(range(0, {GRID_SIGN_DIMS}),
           d -> CASE WHEN CAST(embedding[d + 1] AS DOUBLE) > 0.0
                     THEN CAST(1 AS BIGINT) << d ELSE 0 END)) AS BIGINT)
           AS cell
  FROM embeddings),
pairs AS (
  SELECT list_cosine_similarity(a.emb, b.emb) AS cos
  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id)
SELECT CAST(FLOOR(cos * 10) AS INT) AS cos_band_deci,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(MIN(cos), 4) AS min_cos_r4,
       ROUND(MAX(cos), 4) AS max_cos_r4
FROM pairs GROUP BY 1 ORDER BY cos_band_deci
"""


def mm_payload_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload byte statistics — the cheap triage row a media
    ingest keeps per asset before any decode: byte count, exact byte
    sum / half-up mean, min/max byte, and the distinct-byte count
    (a 2-value payload is a bitmap or padding; a ~full-range one is
    compressed/encrypted). All from the hex projection — one map-side
    pass, non-ASCII-safe.

    Scale: map-only HOF over hex pairs + a per-asset row; no
    shuffle beyond the final orderBy."""
    from .multimodal import project_assets

    # partition-pinned (the _docs_par rule) and hex() bound to a column
    # BEFORE the HOF lambda — interpreted lambdas get no CSE, so an
    # inline hex(payload) would re-hex the payload once PER BYTE
    assets = project_assets(_docs_par(spark, sf_dir))
    withb = assets.select(
        "doc_id",
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    ).filter(F.col("n") >= 1).select(
        "doc_id",
        "media_type",
        "n",
        F.expr(
            "transform(sequence(1, n), i -> "
            "cast(conv(substring(hx, 2 * i - 1, 2), 16, 10) as bigint))"
        ).alias("bs"),
    )
    return (
        withb.select(
            "doc_id",
            "media_type",
            F.col("n").cast("long").alias("n_bytes"),
            F.expr(
                "aggregate(bs, cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("byte_sum"),
            F.expr("array_min(bs)").cast("int").alias("min_byte"),
            F.expr("array_max(bs)").cast("int").alias("max_byte"),
            F.expr("size(array_distinct(bs))").cast("int").alias(
                "n_distinct_bytes"
            ),
        )
        .withColumn(
            "mean_byte_r6",
            F.expr(
                "cast((byte_sum * 2000000 + n_bytes) div (2 * n_bytes)"
                " as double) / 1000000.0"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_PAYLOAD_BYTE_STATS = """
WITH assets AS (
  SELECT doc_id, encode(text) AS payload,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type
  FROM documents),
b AS (
  SELECT doc_id, media_type, octet_length(payload) AS n,
         list_transform(generate_series(1, octet_length(payload)),
           i -> CAST(('0x' || substr(upper(hex(payload)), 2 * i - 1, 2))
                     AS BIGINT)) AS bs
  FROM assets WHERE octet_length(payload) >= 1)
SELECT doc_id, media_type, CAST(n AS BIGINT) AS n_bytes,
       CAST(list_sum(bs) AS BIGINT) AS byte_sum,
       CAST(list_min(bs) AS INT) AS min_byte,
       CAST(list_max(bs) AS INT) AS max_byte,
       CAST(len(list_distinct(bs)) AS INT) AS n_distinct_bytes,
       CAST((CAST(list_sum(bs) AS BIGINT) * 2000000 + n) // (2 * n)
            AS DOUBLE) / 1000000.0 AS mean_byte_r6
FROM b ORDER BY doc_id
"""


def ev_type_transition_gap_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact median (and p90) inter-event gap per TYPE TRANSITION
    (prev_type → event_type) — the behavioral-latency table
    ("view → purchase takes minutes; error → error means a retry
    loop"). Gaps are integer seconds from epoch micros; percentiles
    are exact type-1 at rank (p·n + 99) div 100 under the total
    (gap, user_id, event_id) order.

    Scale: one user-keyed lag window (the sessionization shuffle),
    one transition-pair-keyed rank window over the transition frame
    (pair count is |types|² cells; each partition holds that
    transition's gaps — the exact-percentile posture)."""
    ev = _events(spark, sf_dir)
    wl = W.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.expr(_US).alias("us"),
        )
        .withColumn("prev_type", F.lag("event_type").over(wl))
        .withColumn("prev_us", F.lag("us").over(wl))
        .filter(F.col("prev_type").isNotNull())
        .select(
            "prev_type",
            "event_type",
            "user_id",
            "event_id",
            F.expr("(us - prev_us) div 1000000").alias("gap_s"),
        )
    )
    wr = W.partitionBy("prev_type", "event_type").orderBy(
        "gap_s", "user_id", "event_id"
    )
    wn = W.partitionBy("prev_type", "event_type")
    ranked = gaps.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    return (
        ranked.filter(
            (F.col("rn") == F.expr("(50 * n + 99) div 100"))
            | (F.col("rn") == F.expr("(90 * n + 99) div 100"))
        )
        .groupBy("prev_type", "event_type")
        .agg(
            F.first("n").cast("long").alias("n_transitions"),
            F.min(
                F.when(
                    F.col("rn") == F.expr("(50 * n + 99) div 100"),
                    F.col("gap_s"),
                )
            ).cast("long").alias("median_gap_s"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(90 * n + 99) div 100"),
                    F.col("gap_s"),
                )
            ).cast("long").alias("p90_gap_s"),
        )
        .orderBy("prev_type", "event_type")
    )


ORACLE_TRANSITION_GAP = f"""
WITH g AS (
  SELECT LAG(event_type) OVER w AS prev_type, event_type,
         user_id, event_id,
         ({_US_DUCK} - LAG({_US_DUCK}) OVER w) // 1000000 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY {_US_DUCK}, event_id)),
ranked AS (
  SELECT prev_type, event_type, gap_s,
         ROW_NUMBER() OVER (PARTITION BY prev_type, event_type
                            ORDER BY gap_s, user_id, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY prev_type, event_type) AS n
  FROM g WHERE prev_type IS NOT NULL)
SELECT prev_type, event_type,
       CAST(MAX(n) AS BIGINT) AS n_transitions,
       CAST(MIN(CASE WHEN rn = (50 * n + 99) // 100 THEN gap_s END)
            AS BIGINT) AS median_gap_s,
       CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN gap_s END)
            AS BIGINT) AS p90_gap_s
FROM ranked
WHERE rn = (50 * n + 99) // 100 OR rn = (90 * n + 99) // 100
GROUP BY 1, 2 ORDER BY prev_type, event_type
"""


def customer_balance_activity_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Account-balance decile × order-activity band contingency grid —
    the "does money predict engagement" crosstab (a diagonal grid
    means balance and activity move together; a flat one means the
    balance field is stale). Deciles are NTILE(10) over the exact
    (acctbal cents, c_custkey) total order (the ANSI-fixed fill rule);
    activity bands are log2 of the customer's order count, −1 for
    zero orders.

    Scale: one customer-grain order count (map-side combinable), a
    broadcast-joined customer dimension, NTILE over the customer
    DIMENSION (the rfm_segmentation argument), one grid-bounded agg."""
    customer = catalog.load(spark, sf_dir, "customer")
    orders = catalog.load(spark, sf_dir, "orders")
    cnt = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("*").alias("n_orders")
    )
    base = (
        customer.select(
            "c_custkey",
            F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").alias(
                "bal_cents"
            ),
        )
        .join(cnt, "c_custkey", "left")
        .withColumn("n_orders", F.coalesce("n_orders", F.lit(0)))
    )
    wd = W.orderBy("bal_cents", "c_custkey")
    grid = (
        base.withColumn("bal_decile", F.ntile(10).over(wd))
        .withColumn(
            "activity_band",
            F.expr(
                "case when n_orders = 0 then -1"
                " else length(bin(n_orders)) end"
            ),
        )
        .groupBy("bal_decile", "activity_band")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders_total"),
        )
    )
    return grid.select(
        F.col("bal_decile").cast("int").alias("bal_decile"),
        F.col("activity_band").cast("int").alias("activity_band"),
        "n_customers",
        "n_orders_total",
    ).orderBy("bal_decile", "activity_band")


ORACLE_BALANCE_ACTIVITY = """
WITH cnt AS (
  SELECT o_custkey AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1),
base AS (
  SELECT c.c_custkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         COALESCE(n_orders, 0) AS n_orders
  FROM customer c LEFT JOIN cnt USING (c_custkey)),
grid AS (
  SELECT NTILE(10) OVER (ORDER BY bal_cents, c_custkey) AS bal_decile,
         CASE WHEN n_orders = 0 THEN -1
              ELSE length(bin(n_orders)) END AS activity_band,
         n_orders
  FROM base)
SELECT CAST(bal_decile AS INT) AS bal_decile,
       CAST(activity_band AS INT) AS activity_band,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders_total
FROM grid GROUP BY 1, 2 ORDER BY bal_decile, activity_band
"""


def text_source_bigram_uniqueness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source bigram-vocabulary uniqueness: how many of a source's
    distinct word bigrams appear in NO other source — the
    provenance-value readout one grain above unigram vocabulary
    (a feed whose bigram types are all shared adds no phrasing the
    corpus lacks; unigram Jaccard misses this because everyone shares
    the words). Exact shares.

    Scale: one distinct (source, bigram) explode, one bigram-keyed
    source-count agg (inverted-index shape), one source-bounded
    re-agg — the decontaminate_ngram dataflow."""
    docs = _docs_par(spark, sf_dir)
    sb = (
        docs.select("source", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> "
                    "concat(element_at(ws, i), ' ',"
                    " element_at(ws, i + 1)))"
                )
            ).alias("bg"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds df-count + per-source agg
    )
    bdf = sb.groupBy("bg").agg(F.count("*").alias("n_sources"))
    return (
        sb.join(bdf, "bg")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_bigram_types"),
            F.sum((F.col("n_sources") == 1).cast("long")).cast("long")
            .alias("n_unique_types"),
        )
        .select(
            "source",
            "n_bigram_types",
            "n_unique_types",
            F.expr(
                rat_round6_spark("n_unique_types", "n_bigram_types")
            ).alias("unique_share_r6"),
        )
        .orderBy("source")
    )


ORACLE_SOURCE_BIGRAM_UNIQ = f"""
WITH sb AS MATERIALIZED (
  SELECT DISTINCT source, ws[i] || ' ' || ws[i + 1] AS bg
  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2),
bdf AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_sources FROM sb GROUP BY 1)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
       CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_types,
       {rat_round6_duck(
           "CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)"
           " AS BIGINT)",
           "CAST(COUNT(*) AS BIGINT)")} AS unique_share_r6
FROM sb JOIN bdf USING (bg)
GROUP BY 1 ORDER BY source
"""


def stats_sign_test_user_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paired sign test for a population-wide spend shift: per user,
    compare mean spend of the FIRST half of their event history
    against the SECOND half (by the total (ts, event_id) order) via
    the integer cross-multiply first_sum·n₂ vs second_sum·n₁ — no
    division — and roll up the up/down/tie counts. The sign statistic
    is the nonparametric answer to "did per-user spend drift over
    the period" that survives arbitrary per-user value scales.

    Scale: one user-keyed window rank, one user-grain conditional
    agg, a single-row readout."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", F.expr(_US).alias("us"),
        F.expr(_CENTS).alias("c"),
    )
    wl = W.partitionBy("user_id").orderBy("us", "event_id")
    wn = W.partitionBy("user_id")
    halves = (
        ev.withColumn("rn", F.row_number().over(wl))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("n") >= 2)
        .groupBy("user_id")
        .agg(
            F.first("n").alias("n"),
            F.sum(
                F.when(F.col("rn") <= F.expr("n div 2"), F.col("c"))
                .otherwise(0)
            ).alias("s1"),
            F.sum(
                F.when(F.col("rn") > F.expr("n div 2"), F.col("c"))
                .otherwise(0)
            ).alias("s2"),
        )
        .select(
            "user_id",
            F.expr("n div 2").alias("n1"),
            F.expr("n - n div 2").alias("n2"),
            "s1",
            "s2",
        )
    )
    return (
        halves.select(
            F.expr(
                "case when s2 * n1 > s1 * n2 then 1 else 0 end"
            ).alias("up"),
            F.expr(
                "case when s2 * n1 < s1 * n2 then 1 else 0 end"
            ).alias("down"),
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("up").cast("long").alias("n_up"),
            F.sum("down").cast("long").alias("n_down"),
        )
        .select(
            "n_users",
            "n_up",
            "n_down",
            (F.col("n_users") - F.col("n_up") - F.col("n_down"))
            .cast("long")
            .alias("n_tie"),
            F.expr(rat_round6_spark("n_up", "n_users")).alias(
                "up_share_r6"
            ),
        )
    )


ORACLE_SIGN_TEST = f"""
WITH e AS (
  SELECT user_id, event_id, {_US_DUCK} AS us, {_CENTS_DUCK} AS c
  FROM events),
ranked AS (
  SELECT user_id, c,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e),
halves AS (
  SELECT user_id, MAX(n) // 2 AS n1, MAX(n) - MAX(n) // 2 AS n2,
         CAST(SUM(CASE WHEN rn <= n // 2 THEN c ELSE 0 END) AS BIGINT)
           AS s1,
         CAST(SUM(CASE WHEN rn > n // 2 THEN c ELSE 0 END) AS BIGINT)
           AS s2
  FROM ranked WHERE n >= 2 GROUP BY 1),
flags AS (
  SELECT CASE WHEN s2 * n1 > s1 * n2 THEN 1 ELSE 0 END AS up,
         CASE WHEN s2 * n1 < s1 * n2 THEN 1 ELSE 0 END AS down
  FROM halves)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(up) AS BIGINT) AS n_up,
       CAST(SUM(down) AS BIGINT) AS n_down,
       CAST(COUNT(*) - SUM(up) - SUM(down) AS BIGINT) AS n_tie,
       {rat_round6_duck("CAST(SUM(up) AS BIGINT)",
                        "CAST(COUNT(*) AS BIGINT)")} AS up_share_r6
FROM flags
"""


MAD_K = 3  # anomaly flag: |count - median| > MAD_K * MAD


def ev_hourly_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-volume anomalies by the median/MAD rule: hours whose
    event count deviates from the median hourly count by more than
    {MAD_K}×MAD — the robust outage/bot detector (mean/stddev both
    break on exactly the spikes being hunted). Median and MAD are
    exact type-1 statistics under total orders; the flag is an
    integer comparison.

    Scale: the hourly frame is calendar-bounded; both medians are
    windows over that bounded frame, never over raw events (the
    stats_kruskal posture)."""
    ev = _events(spark, sf_dir)
    hourly = (
        ev.select(F.expr(f"({_US}) div 3600000000").alias("hr"))
        .groupBy("hr")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # calendar-bounded; 3 consumers
    )
    w1 = W.orderBy("c", "hr")
    med = (
        hourly.withColumn("rn", F.row_number().over(w1))
        .withColumn("n", F.count("*").over(W.partitionBy()))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("c").alias("med"))
    )
    devs = hourly.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.expr("abs(c - med)")
    ).localCheckpoint(eager=True)  # bounded; feeds MAD rank + flagging
    w2 = W.orderBy("dev", "hr")
    mad = (
        devs.withColumn("rn", F.row_number().over(w2))
        .withColumn("n", F.count("*").over(W.partitionBy()))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("dev").alias("mad"))
    )
    return (
        devs.crossJoin(F.broadcast(mad))
        .filter(F.expr(f"dev > {MAD_K} * mad"))
        .select(
            F.col("hr").cast("long").alias("hour_epoch"),
            F.col("c").cast("long").alias("n_events"),
            F.col("med").cast("long").alias("median_hourly"),
            F.col("mad").cast("long").alias("mad"),
            F.col("dev").cast("long").alias("abs_deviation"),
            (F.col("c") > F.col("med")).alias("is_spike"),
        )
        .orderBy("hour_epoch")
    )


ORACLE_HOURLY_MAD = f"""
WITH hourly AS MATERIALIZED (
  SELECT {_US_DUCK} // 3600000000 AS hr, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
med AS (
  SELECT c AS med FROM (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c, hr) AS rn,
           COUNT(*) OVER () AS n
    FROM hourly) WHERE rn = (n + 1) // 2),
devs AS MATERIALIZED (
  SELECT hr, c, med, abs(c - med) AS dev FROM hourly CROSS JOIN med),
mad AS (
  SELECT dev AS mad FROM (
    SELECT dev, hr, ROW_NUMBER() OVER (ORDER BY dev, hr) AS rn,
           COUNT(*) OVER () AS n
    FROM devs) WHERE rn = (n + 1) // 2)
SELECT CAST(hr AS BIGINT) AS hour_epoch, c AS n_events,
       CAST(med AS BIGINT) AS median_hourly,
       CAST(mad AS BIGINT) AS mad,
       CAST(dev AS BIGINT) AS abs_deviation,
       c > med AS is_spike
FROM devs CROSS JOIN mad
WHERE dev > {MAD_K} * mad
ORDER BY hour_epoch
"""


def supplier_acctbal_quartile_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier account-balance quartiles crossed with nation — the
    procurement-risk heat map (a nation whose suppliers cluster in the
    bottom balance quartile is a concentration risk). NTILE(4) over
    the exact (cents, s_suppkey) total order; nation names from the
    broadcast dimension.

    Scale: NTILE runs over the supplier DIMENSION (bounded); the
    nation join is a broadcast."""
    supplier = catalog.load(spark, sf_dir, "supplier")
    nation = catalog.load(spark, sf_dir, "nation")
    wq = W.orderBy("bal_cents", "s_suppkey")
    q = supplier.select(
        "s_suppkey",
        "s_nationkey",
        F.expr("cast(floor(s_acctbal * 100 + 0.5) as bigint)").alias(
            "bal_cents"
        ),
    ).withColumn("bal_quartile", F.ntile(4).over(wq))
    return (
        q.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            q["s_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name", "bal_quartile")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum("bal_cents").cast("long").alias("balance_cents"),
        )
        .select(
            "n_name",
            F.col("bal_quartile").cast("int").alias("bal_quartile"),
            "n_suppliers",
            "balance_cents",
        )
        .orderBy("n_name", "bal_quartile")
    )


ORACLE_SUPPLIER_QUARTILE = """
WITH q AS (
  SELECT s_nationkey,
         CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         NTILE(4) OVER (
           ORDER BY CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT),
                    s_suppkey) AS bal_quartile
  FROM supplier)
SELECT n_name, CAST(bal_quartile AS INT) AS bal_quartile,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(bal_cents) AS BIGINT) AS balance_cents
FROM q JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2 ORDER BY n_name, bal_quartile
"""


# --------------------------------------------------------------------------
# Continuation batch H (r13 backlog, part 2): dedup inflation by source,
# IVF routing balance, Blomqvist beta, LSH band precision, hourly
# session load
# --------------------------------------------------------------------------

def text_dedup_inflation_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-token INFLATION per source: how much of each feed's
    token mass the paragraph-grain dedup would remove — the number a
    data-procurement negotiation actually turns on (a feed that is 30%
    removable paragraphs is priced on its 70%). Removed mass is the
    exact token count of removed blocks (same first-occurrence rule and
    block grid as ``dedup_paragraph_cleaned_corpus``), denominated in
    each source's total tokens.

    Scale: the pair machinery is the shared banded-LSH join; the block
    token masses come from one map-side projection; the rollup is
    source-bounded."""
    pairs = _paragraph_pairs(spark, sf_dir)
    removed = pairs.select(
        F.col("doc_b").alias("doc_id"), F.col("blk_b").alias("blk")
    ).distinct()
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    ).localCheckpoint(eager=True)  # feeds block-mass join + source totals
    rm = (
        removed.join(docs, "doc_id")
        .select(
            "source",
            F.expr(
                f"least(cast({PARA_W} as int),"
                f" n_tokens - blk * {PARA_W})"
            ).alias("blk_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("removed_blocks"),
            F.sum("blk_tokens").cast("long").alias("removed_tokens"),
        )
    )
    tot = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        tot.join(rm, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.coalesce("removed_blocks", F.lit(0)).cast("long")
            .alias("removed_blocks"),
            F.coalesce("removed_tokens", F.lit(0)).cast("long")
            .alias("removed_tokens"),
            F.expr(
                rat_round6_spark(
                    "coalesce(removed_tokens, 0)", "total_tokens"
                )
            ).alias("removed_share_r6"),
        )
        .orderBy("source")
    )


ORACLE_DEDUP_INFLATION = f"""
WITH {_PARA_CTES},
rem AS (SELECT DISTINCT doc_b AS doc_id, blk_b AS blk FROM vp),
dd AS MATERIALIZED (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents),
rm AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS removed_blocks,
         CAST(SUM(least({PARA_W}, n_tokens - blk * {PARA_W})) AS BIGINT)
           AS removed_tokens
  FROM rem JOIN dd USING (doc_id) GROUP BY 1),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM dd GROUP BY 1)
SELECT tot.source AS source, n_docs, total_tokens,
       COALESCE(removed_blocks, 0) AS removed_blocks,
       COALESCE(removed_tokens, 0) AS removed_tokens,
       {rat_round6_duck("COALESCE(removed_tokens, 0)", "total_tokens")}
         AS removed_share_r6
FROM tot LEFT JOIN rm ON tot.source = rm.source
ORDER BY tot.source
"""


def sim_ivf_routing_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing-load balance: per inverted list, its size, how many
    queries probe it, and the candidate rows it contributes to the
    scan (size × probes, minus the self-hits of queries assigned to
    their own probed list) — the telemetry that says whether the
    coarse quantizer is balanced (a fat, popular list dominates query
    latency; the fix is more centroids or list splitting). Exact
    shares of the total scanned volume.

    Scale: both inputs are the shared _ivf_structures stages (map-only
    assignment + bounded probe plan); everything after is
    K-bounded."""
    from .similarity import _ivf_structures

    assigned, probe_df = _ivf_structures(spark, sf_dir)
    lists = assigned.groupBy(F.col("centroid")).agg(
        F.count("*").cast("long").alias("list_size")
    )
    probes = probe_df.select("qid", "centroid")
    pb = probes.groupBy("centroid").agg(
        F.count("*").cast("long").alias("n_probing_queries")
    )
    self_hits = (
        probes.join(
            assigned.select(
                F.col("vec_id").alias("qid"),
                F.col("centroid").alias("own_centroid"),
            ),
            "qid",
        )
        .filter(F.col("centroid") == F.col("own_centroid"))
        .groupBy("centroid")
        .agg(F.count("*").cast("long").alias("n_self"))
    )
    base = (
        lists.join(pb, "centroid", "left")
        .join(self_hits, "centroid", "left")
        .select(
            "centroid",
            "list_size",
            F.coalesce("n_probing_queries", F.lit(0)).cast("long")
            .alias("n_probing_queries"),
            (
                F.col("list_size")
                * F.coalesce("n_probing_queries", F.lit(0))
                - F.coalesce("n_self", F.lit(0))
            ).cast("long").alias("scanned_candidates"),
        )
        .localCheckpoint(eager=True)  # K-bounded; feeds total + readout
    )
    tot = base.agg(
        F.sum("scanned_candidates").cast("long").alias("t")
    )
    return (
        base.crossJoin(F.broadcast(tot))
        .select(
            "centroid",
            "list_size",
            "n_probing_queries",
            "scanned_candidates",
            F.expr(
                "case when t > 0 then "
                + rat_round6_spark("scanned_candidates", "t")
                + " end"
            ).alias("scan_share_r6"),
        )
        .orderBy("centroid")
    )


def _oracle_ivf_routing() -> str:
    from .similarity import _IVF_CAND_CTES

    return f"""
WITH {_IVF_CAND_CTES},
lists AS (
  SELECT cid AS centroid, CAST(COUNT(*) AS BIGINT) AS list_size
  FROM asgn GROUP BY 1),
pb AS (
  SELECT cid AS centroid, CAST(COUNT(*) AS BIGINT) AS n_probing_queries
  FROM probes GROUP BY 1),
sh AS (
  SELECT p.cid AS centroid, CAST(COUNT(*) AS BIGINT) AS n_self
  FROM probes p JOIN asgn a ON p.qid = a.vec_id AND p.cid = a.cid
  GROUP BY 1),
base AS MATERIALIZED (
  SELECT l.centroid, l.list_size,
         COALESCE(pb.n_probing_queries, 0) AS n_probing_queries,
         l.list_size * COALESCE(pb.n_probing_queries, 0)
           - COALESCE(sh.n_self, 0) AS scanned_candidates
  FROM lists l
  LEFT JOIN pb ON l.centroid = pb.centroid
  LEFT JOIN sh ON l.centroid = sh.centroid),
tot AS (SELECT CAST(SUM(scanned_candidates) AS BIGINT) AS t FROM base)
SELECT centroid, list_size, n_probing_queries,
       CAST(scanned_candidates AS BIGINT) AS scanned_candidates,
       CASE WHEN t > 0 THEN
         {rat_round6_duck("scanned_candidates", "t")} END
         AS scan_share_r6
FROM base CROSS JOIN tot
ORDER BY centroid
"""


def stats_blomqvist_beta_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blomqvist's beta (medial correlation) between quantity and
    extended price per brand: split each brand's lines at the exact
    (type-1) medians of both variables, drop points ON either median
    (the standard treatment, deterministic), and report
    β = (concordant − discordant) / n_used — the quadrant statistic
    that gives a robust correlation sign without any square or sqrt
    (per-brand Pearson's n²-scaled moments overflow BIGINT; β stays
    in plain counts).

    Scale: two brand-keyed rank windows for the medians (the
    exact-percentile posture), one broadcast of the brand-bounded
    median table, one grid agg."""
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    lines = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(
            "p_brand",
            "l_orderkey",
            "l_linenumber",
            F.expr("cast(l_quantity as bigint)").alias("qty"),
            F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
            .alias("price_cents"),
        )
        .localCheckpoint(eager=True)  # feeds both median ranks + the grid
    )
    def _median(col: str, alias: str) -> DataFrame:
        wr = W.partitionBy("p_brand").orderBy(
            col, "l_orderkey", "l_linenumber"
        )
        wn = W.partitionBy("p_brand")
        return (
            lines.withColumn("rn", F.row_number().over(wr))
            .withColumn("n", F.count("*").over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("p_brand", F.col(col).alias(alias))
        )

    med = _median("qty", "med_qty").join(
        _median("price_cents", "med_price"), "p_brand"
    )
    flagged = (
        lines.join(F.broadcast(med), "p_brand")
        .filter(
            (F.col("qty") != F.col("med_qty"))
            & (F.col("price_cents") != F.col("med_price"))
        )
        .select(
            "p_brand",
            (
                (F.col("qty") > F.col("med_qty"))
                == (F.col("price_cents") > F.col("med_price"))
            ).cast("long").alias("conc"),
        )
    )
    return (
        flagged.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_used"),
            F.sum("conc").cast("long").alias("n_concordant"),
        )
        .join(F.broadcast(med), "p_brand")
        .select(
            "p_brand",
            "med_qty",
            "med_price",
            "n_used",
            "n_concordant",
            (F.col("n_used") - F.col("n_concordant")).cast("long")
            .alias("n_discordant"),
            F.expr(
                rat_round6_signed_spark(
                    "2 * n_concordant - n_used", "n_used"
                )
            ).alias("blomqvist_beta_r6"),
        )
        .orderBy("p_brand")
    )


ORACLE_BLOMQVIST = f"""
WITH lines AS MATERIALIZED (
  SELECT p_brand, l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
           AS price_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey),
mq AS (
  SELECT p_brand, qty AS med_qty FROM (
    SELECT p_brand, qty,
           ROW_NUMBER() OVER (PARTITION BY p_brand
             ORDER BY qty, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY p_brand) AS n
    FROM lines) WHERE rn = (n + 1) // 2),
mp AS (
  SELECT p_brand, price_cents AS med_price FROM (
    SELECT p_brand, price_cents,
           ROW_NUMBER() OVER (PARTITION BY p_brand
             ORDER BY price_cents, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY p_brand) AS n
    FROM lines) WHERE rn = (n + 1) // 2),
med AS (SELECT mq.p_brand, med_qty, med_price
        FROM mq JOIN mp ON mq.p_brand = mp.p_brand),
flagged AS (
  SELECT l.p_brand, med_qty, med_price,
         CASE WHEN (qty > med_qty) = (price_cents > med_price)
              THEN 1 ELSE 0 END AS conc
  FROM lines l JOIN med ON l.p_brand = med.p_brand
  WHERE qty != med_qty AND price_cents != med_price)
SELECT p_brand, med_qty, med_price,
       CAST(COUNT(*) AS BIGINT) AS n_used,
       CAST(SUM(conc) AS BIGINT) AS n_concordant,
       CAST(COUNT(*) - SUM(conc) AS BIGINT) AS n_discordant,
       {rat_round6_signed_duck(
           "2 * CAST(SUM(conc) AS BIGINT) - COUNT(*)",
           "CAST(COUNT(*) AS BIGINT)")} AS blomqvist_beta_r6
FROM flagged GROUP BY 1, 2, 3 ORDER BY p_brand
"""


def dedup_band_precision_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-BAND precision of the production MinHash-LSH: for each of
    the {25} bands, how many candidate pairs it generates and how many
    survive the exact-Jaccard verify — the tuning table for the
    bands×rows tradeoff (a band whose precision collapses is hashing
    too few rows; uniformly tiny candidate counts mean wasted bands).
    Runs the REAL production signatures (the shared _minhash_stages
    pipeline), not a twin.

    Scale: identical to dedup_minhash_lsh with the band id retained —
    banded candidate join, verification only on candidates."""
    from .dedup import (
        MINHASH_BANDS,
        MINHASH_R,
        MINHASH_TAU,
        _minhash_stages,
        bucket_pairs,
    )

    docs, sig, _ = _minhash_stages(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))).alias("b"),
        "sig",
    ).select(
        "doc_id",
        "b",
        # grouping-internal key: the raw signature slice, not a rendered
        # string — identical buckets (injective rendering), no per-row
        # int→string concat work (r15 optimization round, same change as
        # _minhash_stages/_band_sweep)
        F.expr(f"slice(sig, b * {MINHASH_R} + 1, {MINHASH_R})").alias("bkey"),
    )
    cand = bucket_pairs(
        bands.groupBy("b", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1),
        keep=("b",),
    ).distinct()
    x = docs.select(F.col("doc_id").alias("doc_a"),
                    F.col("shingles").alias("sha"))
    y = docs.select(F.col("doc_id").alias("doc_b"),
                    F.col("shingles").alias("shb"))
    verified = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "b",
            (
                F.size(F.array_intersect("sha", "shb")) * 1.0
                / F.size(F.array_union("sha", "shb"))
                >= MINHASH_TAU
            ).cast("long").alias("ok"),
        )
    )
    return (
        verified.groupBy(F.col("b").cast("int").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_candidate_pairs"),
            F.sum("ok").cast("long").alias("n_verified_pairs"),
        )
        .select(
            "band",
            "n_candidate_pairs",
            "n_verified_pairs",
            F.expr(
                rat_round6_spark("n_verified_pairs", "n_candidate_pairs")
            ).alias("precision_r6"),
        )
        .orderBy("band")
    )


def _oracle_band_precision() -> str:
    from ..functions.hashing import sql_minhash_signature_duck
    from .dedup import (
        _DUCK_SHINGLES,
        MINHASH_BANDS,
        MINHASH_PERMS,
        MINHASH_R,
        MINHASH_TAU,
    )

    return f"""
WITH shl AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id, shingles,
         {sql_minhash_signature_duck('shingles', MINHASH_PERMS)} AS sig
  FROM shl),
bands AS (
  SELECT doc_id, b,
         array_to_string(
           sig[b * {MINHASH_R} + 1 : b * {MINHASH_R} + {MINHASH_R}], ',')
           AS bkey
  FROM sig, LATERAL unnest(range(0, {MINHASH_BANDS})) AS u(b)),
cand AS (
  SELECT DISTINCT a.b AS b, a.doc_id AS doc_a, bb.doc_id AS doc_b
  FROM bands a JOIN bands bb
    ON a.b = bb.b AND a.bkey = bb.bkey AND a.doc_id < bb.doc_id),
verified AS (
  SELECT b,
         CASE WHEN len(list_intersect(x.shingles, y.shingles)) * 1.0
                / len(list_distinct(list_concat(x.shingles, y.shingles)))
              >= {MINHASH_TAU} THEN 1 ELSE 0 END AS ok
  FROM cand JOIN shl x ON doc_a = x.doc_id JOIN shl y ON doc_b = y.doc_id)
SELECT CAST(b AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(SUM(ok) AS BIGINT) AS n_verified_pairs,
       {rat_round6_duck("CAST(SUM(ok) AS BIGINT)",
                        "CAST(COUNT(*) AS BIGINT)")} AS precision_r6
FROM verified GROUP BY 1 ORDER BY band
"""


SESSION_LOAD_MAX_HOURS = 48  # fan-out guard: a session spanning more
# hours than this contributes only its first 48 (documented cap — the
# fixture's 30-minute-gap sessions span a few hours at most)


def ev_hourly_session_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session load per hour: each 30-minute-gap session
    (the ev_sessionize_batch islands) contributes one row to every
    hour it overlaps, giving per-hour active-session and
    session-start counts — the capacity view of sessionization (DAU
    counts users; this counts simultaneous engagement). The hour
    fan-out is capped at {SESSION_LOAD_MAX_HOURS} hours per session
    (the gap-capped-LEAD rule; the cap is a no-op on the fixture).

    Scale: the sessionize shuffle (user-keyed lag + running sum), one
    bounded explode per session, a calendar-bounded agg."""
    from .temporal import SESSION_GAP_US

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", F.expr(_US).alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("us") - F.col("prev_us") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("seq", F.sum("is_new").over(run))
        .groupBy("user_id", "seq")
        .agg(
            F.expr("min(us) div 3600000000").alias("h1"),
            F.expr("max(us) div 3600000000").alias("h2"),
        )
    )
    hours = sessions.select(
        F.col("h1").alias("start_hour"),
        F.explode(
            F.expr(
                f"sequence(h1, least(h2, h1 + {SESSION_LOAD_MAX_HOURS - 1}))"
            )
        ).alias("hour_epoch"),
    )
    return (
        hours.groupBy("hour_epoch")
        .agg(
            F.count("*").cast("long").alias("n_active_sessions"),
            F.sum(
                (F.col("hour_epoch") == F.col("start_hour")).cast("long")
            ).cast("long").alias("n_starting_sessions"),
        )
        .select(
            F.col("hour_epoch").cast("long").alias("hour_epoch"),
            "n_active_sessions",
            "n_starting_sessions",
        )
        .orderBy("hour_epoch")
    )


def _oracle_hourly_session_load() -> str:
    from .temporal import SESSION_GAP_US

    return f"""
WITH flagged AS (
  SELECT user_id, event_id, {_US_DUCK} AS us,
         CASE WHEN LAG({_US_DUCK}) OVER w IS NULL
                OR {_US_DUCK} - LAG({_US_DUCK}) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY {_US_DUCK}, event_id)),
islands AS (
  SELECT user_id, us,
         CAST(SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS seq
  FROM flagged),
sessions AS (
  SELECT user_id, seq, MIN(us) // 3600000000 AS h1,
         MAX(us) // 3600000000 AS h2
  FROM islands GROUP BY 1, 2),
hours AS (
  SELECT h1 AS start_hour, u.h AS hour_epoch
  FROM sessions, LATERAL unnest(generate_series(
    h1, least(h2, h1 + {SESSION_LOAD_MAX_HOURS - 1}))) AS u(h))
SELECT CAST(hour_epoch AS BIGINT) AS hour_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_active_sessions,
       CAST(SUM(CASE WHEN hour_epoch = start_hour THEN 1 ELSE 0 END)
            AS BIGINT) AS n_starting_sessions
FROM hours GROUP BY 1 ORDER BY hour_epoch
"""


# --------------------------------------------------------------------------
# Continuation batch D (r13 backlog): Cramér association, exact-dup
# Pareto curve, priority transition matrix, weekend lift, CDC chunking
# --------------------------------------------------------------------------

def stats_cramers_v_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V² association between part brand and return flag —
    the normalized chi-square that answers "does return behaviour
    depend on the brand?" on a scale-free [0, 1] axis (chi² itself
    grows with n; V² = chi²/(n·min(r−1, c−1)) doesn't). Emits the
    complete contingency grid (observed, expected, per-cell chi²
    contribution in exact micro units) with the global statistic
    repeated on every row, so one result carries both the evidence
    table and the verdict. V² is reported (not V) — the square root is
    irrational and would break the exact cross-engine hash; V² orders
    identically.

    Determinism: each cell contribution is floored to integer MICROS
    of the identical IEEE double (the stats_chi_square_source_length
    rule — +,-,*,/ are correctly rounded in both engines, so the
    pre-floor double is bit-identical); the STATISTIC is the exact
    BIGINT sum of those micros — no float ever crosses an aggregation
    boundary. V² is then a pure integer rational via the qrem split
    (chi²_micros · 2e6 could overflow at corpus scale).

    Scale: one fact-stream shuffle on the (brand, flag) pair; margins
    and the grid are re-aggregations of the CONTINGENCY TABLE
    (|brands|·|flags| rows, broadcast), never the fact stream; the
    statistic is an agg over the checkpointed bounded grid."""
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    fact = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == part["p_partkey"],
    ).select("p_brand", "l_returnflag")
    obs = fact.groupBy("p_brand", "l_returnflag").agg(
        F.count("*").alias("n_obs")
    )
    rm = obs.groupBy("p_brand").agg(F.sum("n_obs").alias("n_brand"))
    cm = obs.groupBy("l_returnflag").agg(F.sum("n_obs").alias("n_flag"))
    tot = obs.agg(
        F.sum("n_obs").cast("long").alias("n_total"),
        F.countDistinct("p_brand").alias("n_r"),
        F.countDistinct("l_returnflag").alias("n_c"),
    )
    n_obs = F.coalesce("n_obs", F.lit(0))
    exp = F.col("n_brand") * F.col("n_flag") / F.col("n_total")
    cells = (
        F.broadcast(rm)
        .crossJoin(F.broadcast(cm))
        .join(obs, ["p_brand", "l_returnflag"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "p_brand",
            "l_returnflag",
            n_obs.cast("long").alias("n_obs"),
            F.expr(
                rat_round6_spark("n_brand * n_flag", "n_total")
            ).alias("n_exp_r6"),
            F.floor(
                ((n_obs - exp) * (n_obs - exp) / exp) * F.lit(1000000.0)
            ).cast("long").alias("chi2_part_micros"),
            "n_total",
            "n_r",
            "n_c",
        )
        .localCheckpoint(eager=True)  # bounded grid; feeds stat + rows
    )
    stat = cells.agg(
        F.sum("chi2_part_micros").cast("long").alias("chi2_micros")
    )
    return (
        cells.crossJoin(F.broadcast(stat))
        .select(
            "p_brand",
            "l_returnflag",
            "n_obs",
            "n_exp_r6",
            "chi2_part_micros",
            F.col("chi2_micros").alias("chi2_total_micros"),
            # a 1×C or R×1 table has no defined V² (min(r−1, c−1) = 0)
            # — NULL, not an ANSI div-by-zero
            F.expr(
                "case when least(n_r - 1, n_c - 1) > 0 then "
                + qrem_round6_spark(
                    "chi2_micros",
                    "n_total * least(n_r - 1, n_c - 1) * 1000000",
                )
                + " end"
            ).alias("cramers_v2_r6"),
        )
        .orderBy("p_brand", "l_returnflag")
    )


ORACLE_CRAMERS_V = f"""
WITH fact AS (
  SELECT p_brand, l_returnflag
  FROM lineitem JOIN part ON l_partkey = p_partkey),
obs AS (
  SELECT p_brand, l_returnflag, COUNT(*) AS n_obs FROM fact GROUP BY 1, 2),
rm AS (SELECT p_brand, SUM(n_obs) AS n_brand FROM obs GROUP BY 1),
cm AS (SELECT l_returnflag, SUM(n_obs) AS n_flag FROM obs GROUP BY 1),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total,
               COUNT(DISTINCT p_brand) AS n_r,
               COUNT(DISTINCT l_returnflag) AS n_c
        FROM obs),
cells AS MATERIALIZED (
  SELECT rm.p_brand, cm.l_returnflag,
         CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
         {rat_round6_duck("rm.n_brand * cm.n_flag", "t.n_total")}
           AS n_exp_r6,
         CAST(FLOOR(
           (COALESCE(o.n_obs, 0) - rm.n_brand * cm.n_flag / t.n_total)
           * (COALESCE(o.n_obs, 0) - rm.n_brand * cm.n_flag / t.n_total)
           / (rm.n_brand * cm.n_flag / t.n_total) * 1000000.0)
           AS BIGINT) AS chi2_part_micros,
         t.n_total, t.n_r, t.n_c
  FROM rm CROSS JOIN cm
  LEFT JOIN obs o USING (p_brand, l_returnflag)
  CROSS JOIN tot t),
stat AS (SELECT CAST(SUM(chi2_part_micros) AS BIGINT) AS chi2_micros
         FROM cells)
SELECT p_brand, l_returnflag, n_obs, n_exp_r6, chi2_part_micros,
       chi2_micros AS chi2_total_micros,
       CASE WHEN least(n_r - 1, n_c - 1) > 0 THEN
         {qrem_round6_duck(
             "chi2_micros",
             "n_total * least(n_r - 1, n_c - 1) * 1000000")} END
         AS cramers_v2_r6
FROM cells CROSS JOIN stat
ORDER BY p_brand, l_returnflag
"""


PARETO_TOP_N = 100  # documented head cut: the curve's actionable region


def dedup_cluster_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto curve of exact-duplicate WASTE: rank the byte-identical
    clusters by removable token mass ((n_docs − 1) · tokens — what
    dedup deletes) and report the cumulative share of the total
    removable mass at each rank. The curation read: if the top 10
    clusters carry 80% of the waste, targeted takedown of a few viral
    templates beats corpus-wide machinery. Head-cut at
    {PARETO_TOP_N} clusters (removable desc, hash tie-break) — the
    tail is noise by construction and an uncut output would be
    corpus-sized.

    Scale: the per-doc token HOF is map-side on the pinned partitions;
    clusters come from the exact-dedup groupBy (shuffle on the hash);
    the TOTAL is an agg (no window); the cut is a TakeOrdered (never a
    global sort); only the ≤{PARETO_TOP_N}-row head enters the
    single-partition cumulative window."""
    per_doc = _docs_par(spark, sf_dir).select(
        F.md5("text").alias("content_hash"),
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x != ''))")
        .cast("long")
        .alias("doc_tokens"),
    )
    clusters = (
        per_doc.groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            # exact dup => identical text => identical token count;
            # MIN is just the deterministic pick
            F.min("doc_tokens").alias("doc_tokens"),
        )
        .filter(F.col("n_docs") > 1)
        .withColumn(
            "removable_tokens",
            ((F.col("n_docs") - 1) * F.col("doc_tokens")).cast("long"),
        )
        .localCheckpoint(eager=True)  # feeds the total AND the head cut
    )
    tot = clusters.agg(
        F.sum("removable_tokens").cast("long").alias("total_removable")
    )
    top = clusters.orderBy(
        F.desc("removable_tokens"), "content_hash"
    ).limit(PARETO_TOP_N)
    w = W.orderBy(F.desc("removable_tokens"), "content_hash")
    return (
        top.withColumn("dup_rank", F.row_number().over(w).cast("int"))
        .withColumn(
            "cum_removable_tokens",
            F.sum("removable_tokens")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("long"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "dup_rank",
            "content_hash",
            F.col("n_docs").cast("long").alias("n_docs"),
            "keep_doc_id",
            "doc_tokens",
            "removable_tokens",
            "cum_removable_tokens",
            # all-empty-text dup clusters → total mass 0 → share
            # undefined, not an ANSI div-by-zero
            F.expr(
                "case when total_removable > 0 then "
                + rat_round6_spark(
                    "cum_removable_tokens", "total_removable"
                )
                + " end"
            ).alias("cum_share_r6"),
        )
        .orderBy("dup_rank")
    )


ORACLE_CLUSTER_PARETO = f"""
WITH pd AS (
  SELECT md5(text) AS content_hash, doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
              AS BIGINT) AS doc_tokens
  FROM documents),
cl AS MATERIALIZED (
  SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id,
         MIN(doc_tokens) AS doc_tokens,
         CAST((COUNT(*) - 1) * MIN(doc_tokens) AS BIGINT)
           AS removable_tokens
  FROM pd GROUP BY 1 HAVING COUNT(*) > 1),
tot AS (SELECT CAST(SUM(removable_tokens) AS BIGINT) AS total_removable
        FROM cl),
top AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER
           (ORDER BY removable_tokens DESC, content_hash) AS INT)
           AS dup_rank,
         CAST(SUM(removable_tokens) OVER
           (ORDER BY removable_tokens DESC, content_hash
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_removable_tokens
  FROM cl ORDER BY removable_tokens DESC, content_hash
  LIMIT {PARETO_TOP_N})
SELECT dup_rank, content_hash, CAST(n_docs AS BIGINT) AS n_docs,
       keep_doc_id, doc_tokens, removable_tokens, cum_removable_tokens,
       CASE WHEN total_removable > 0 THEN
         {rat_round6_duck("cum_removable_tokens", "total_removable")} END
         AS cum_share_r6
FROM top CROSS JOIN tot
ORDER BY dup_rank
"""


def customer_priority_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-priority transition matrix over each customer's
    consecutive orders (by order date, key tie-break): does an URGENT
    order predict the next one's priority, or are priorities drawn
    independently per order? Reports pair counts, the row-conditional
    share P(next | prev), and the global pair share — the Markov read
    the ev_markov_transitions op gives events, applied to the orders
    dimension.

    Scale: one lag window PARTITIONED BY customer (no global
    ordering), one shuffle on the 25-cell transition key, margins
    re-aggregated from the bounded matrix and broadcast."""
    o = catalog.load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    pairs = (
        o.select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .withColumn("prev_priority", F.lag("o_orderpriority").over(w))
        .filter(F.col("prev_priority").isNotNull())
    )
    agg = pairs.groupBy(
        "prev_priority", F.col("o_orderpriority").alias("next_priority")
    ).agg(F.count("*").alias("n_pairs"))
    row_tot = agg.groupBy("prev_priority").agg(
        F.sum("n_pairs").alias("n_from")
    )
    tot = agg.agg(F.sum("n_pairs").cast("long").alias("n_all"))
    return (
        agg.join(F.broadcast(row_tot), "prev_priority")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev_priority",
            "next_priority",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.expr(rat_round6_spark("n_pairs", "n_from")).alias(
                "row_share_r6"
            ),
            F.expr(rat_round6_spark("n_pairs", "n_all")).alias(
                "pair_share_r6"
            ),
        )
        .orderBy("prev_priority", "next_priority")
    )


ORACLE_PRIORITY_TRANSITIONS = f"""
WITH pairs AS (
  SELECT LAG(o_orderpriority) OVER
           (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev_priority,
         o_orderpriority AS next_priority
  FROM orders),
agg AS (
  SELECT prev_priority, next_priority, COUNT(*) AS n_pairs
  FROM pairs WHERE prev_priority IS NOT NULL GROUP BY 1, 2),
rt AS (SELECT prev_priority, SUM(n_pairs) AS n_from FROM agg GROUP BY 1),
tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_all FROM agg)
SELECT a.prev_priority, a.next_priority,
       CAST(a.n_pairs AS BIGINT) AS n_pairs,
       {rat_round6_duck("a.n_pairs", "rt.n_from")} AS row_share_r6,
       {rat_round6_duck("a.n_pairs", "tot.n_all")} AS pair_share_r6
FROM agg a JOIN rt USING (prev_priority) CROSS JOIN tot
ORDER BY prev_priority, next_priority
"""


def ev_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend lift per event type: observed weekend share of events
    and of spend vs the CALENDAR weekend share of the feed's day span
    — lift > 1 means the type over-indexes on weekends (the
    seasonality read behind staffing/capacity and send-time choices).
    Day boundaries are UTC epoch-day integers (epoch micros div
    86400e6 — timezone-free, the ev_* epoch convention); weekday index
    (day + 3) % 7 puts Monday at 0, so weekend = index ≥ 5.

    Scale: one map-side day/weekend tag, one shuffle on event_type;
    the calendar baseline expands the GLOBAL day span (calendar-
    bounded: ~365 rows/year, never the fact stream) and is broadcast."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(f"({_US}) div 86400000000").alias("day"),
        F.expr(_CENTS).alias("cents"),
    )
    span = ev.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    cal = span.select(
        (F.col("dmax") - F.col("dmin") + 1).cast("long").alias("n_days"),
        F.expr(
            "cast(size(filter(sequence(dmin, dmax),"
            " d -> (d + 3) % 7 >= 5)) as bigint)"
        ).alias("n_weekend_days"),
    )
    per_type = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(((F.col("day") + 3) % 7 >= 5).cast("long"))
        .cast("long")
        .alias("n_weekend_events"),
        F.sum("cents").cast("long").alias("cents_total"),
        F.sum(
            F.when((F.col("day") + 3) % 7 >= 5, F.col("cents")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("cents_weekend"),
    )
    return (
        per_type.crossJoin(F.broadcast(cal))
        .select(
            "event_type",
            "n_events",
            "n_weekend_events",
            F.expr(
                rat_round6_spark("n_weekend_events", "n_events")
            ).alias("weekend_event_share_r6"),
            "cents_total",
            "cents_weekend",
            # a type whose values all round to zero cents has no defined
            # value share — NULL, not an ANSI division error (the
            # degenerate-corpus convention, ADVICE r12)
            F.expr(
                "case when cents_total > 0 then "
                + rat_round6_spark("cents_weekend", "cents_total")
                + " end"
            ).alias("weekend_value_share_r6"),
            F.expr(rat_round6_spark("n_weekend_days", "n_days")).alias(
                "calendar_weekend_share_r6"
            ),
            # a span with no weekend days (a mid-week one-day feed) has
            # no defined lift — NULL, not a division error (ANSI mode
            # throws on div-by-zero at real scale)
            F.expr(
                "case when n_weekend_days > 0 then "
                + rat_round6_spark(
                    "n_weekend_events * n_days",
                    "n_events * n_weekend_days",
                )
                + " end"
            ).alias("weekend_lift_r6"),
        )
        .orderBy("event_type")
    )


ORACLE_WEEKEND_LIFT = f"""
WITH ev AS (
  SELECT event_type, ({_US_DUCK}) // 86400000000 AS day,
         {_CENTS_DUCK} AS cents
  FROM events),
cal AS (
  SELECT CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS n_days,
         CAST(len(list_filter(generate_series(MIN(day), MAX(day)),
                              d -> (d + 3) % 7 >= 5)) AS BIGINT)
           AS n_weekend_days
  FROM ev),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN (day + 3) % 7 >= 5 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_weekend_events,
         CAST(SUM(cents) AS BIGINT) AS cents_total,
         CAST(SUM(CASE WHEN (day + 3) % 7 >= 5 THEN cents ELSE 0 END)
              AS BIGINT) AS cents_weekend
  FROM ev GROUP BY 1)
SELECT event_type, n_events, n_weekend_events,
       {rat_round6_duck("n_weekend_events", "n_events")}
         AS weekend_event_share_r6,
       cents_total, cents_weekend,
       CASE WHEN cents_total > 0 THEN
         {rat_round6_duck("cents_weekend", "cents_total")} END
         AS weekend_value_share_r6,
       {rat_round6_duck("n_weekend_days", "n_days")}
         AS calendar_weekend_share_r6,
       CASE WHEN n_weekend_days > 0 THEN
         {rat_round6_duck("n_weekend_events * n_days",
                          "n_events * n_weekend_days")} END
         AS weekend_lift_r6
FROM pt CROSS JOIN cal
ORDER BY event_type
"""


CDC_MOD = 16  # expected chunk length: boundary when hash % 16 == 0


def mm_chunk_cdc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) profile per media type: split
    each payload where a rolling byte-pair hash ((b_i·31 + b_{{i+1}})
    mod {CDC_MOD} == 0), hash every chunk, and report chunk-count /
    chunk-length stats plus the cross-corpus duplicate-chunk share.
    CDC is the shift-robust complement of mm_chunk_dedup_cross's
    64-byte ALIGNED chunks: an insertion early in a payload moves
    every aligned boundary but only the one CDC chunk it lands in —
    the rsync/casync/restic dedup primitive.

    Boundary predicate is per-position (no min-chunk state), so the
    whole split is a declarative HOF over the hex projection: bytes
    array → boundary positions → bounds → chunk (start, end) structs,
    exploded once (corpus-bytes/{CDC_MOD} chunk rows — the byte-op
    cost class). Chunk identity = md5 of the chunk's hex slice,
    byte-exact on both engines (Spark hex() and DuckDB upper(hex())
    agree).

    Scale: map-side HOFs on pinned partitions; one explode bounded by
    total bytes / expected chunk length; one shuffle on media_type
    with a distinct-count over chunk hashes."""
    return assemble_chunk_cdc_profile(
        *chunk_cdc_grains(cdc_chunks(_assets_curation(spark, sf_dir)))
    )


def chunk_cdc_grains(chunks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (by_hash, by_asset) pre-aggregations of the CDC profile over
    ``cdc_chunks`` rows, shared by the batch op and
    streaming/jobs.run_chunk_cdc_stream (which sinks each one)."""
    return (
        chunks.groupBy("media_type", "chunk_hash").agg(
            F.count("*").cast("long").alias("n_occurrences"),
            # identical hash => identical content => identical length;
            # MIN is just the deterministic pick
            F.min("chunk_len").cast("long").alias("chunk_len"),
        ),
        chunks.groupBy("media_type", "doc_id").agg(
            F.count("*").cast("long").alias("n_chunks_in_asset")
        ),
    )


def cdc_chunks(assets: DataFrame) -> DataFrame:
    """One (doc_id, media_type, chunk_len, chunk_hash) row per CDC
    chunk — the shared projection behind the batch profile AND
    streaming/jobs.run_chunk_cdc_stream, so both surfaces split and
    hash the identical chunks (the byte_delta_bands precedent: the
    batch DuckDB oracle transitively gates the stream)."""
    withhx = assets.filter(F.octet_length("payload") >= 1).select(
        "doc_id",
        "media_type",
        # bound BEFORE the lambdas: interpreted HOFs get no CSE
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    )
    return (
        withhx.withColumn(
            "bs",
            F.expr(
                "transform(sequence(1, n), i ->"
                " cast(conv(substring(hx, 2 * i - 1, 2), 16, 10) as int))"
            ),
        )
        .withColumn(
            "bnd",
            # n >= 2 guard: Spark sequence(1, 0) DESCENDS (the ADVICE
            # r10 empty-payload class); a 1-byte payload is one chunk
            F.expr(
                "case when n >= 2 then filter(sequence(1, n - 1), i ->"
                f" (element_at(bs, i) * 31 + element_at(bs, i + 1))"
                f" % {CDC_MOD} = 0)"
                " else array() end"
            ),
        )
        .withColumn(
            "bounds",
            F.expr("concat(array(0), bnd, array(cast(n as int)))"),
        )
        .select(
            "doc_id",
            "media_type",
            "hx",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(bounds) - 1), i ->"
                    " named_struct('s', element_at(bounds, i),"
                    " 'e', element_at(bounds, i + 1)))"
                )
            ).alias("ck"),
        )
        .select(
            "doc_id",
            "media_type",
            (F.col("ck.e") - F.col("ck.s")).cast("long").alias("chunk_len"),
            F.expr(
                "md5(substring(hx, 2 * ck.s + 1, 2 * (ck.e - ck.s)))"
            ).alias("chunk_hash"),
        )
    )


def assemble_chunk_cdc_profile(
    by_hash: DataFrame, by_asset: DataFrame
) -> DataFrame:
    """Final CDC profile from the two intermediate aggregates (shared
    batch/stream column contract — streaming can't COUNT(DISTINCT), so
    both surfaces reduce to (media_type, chunk_hash) occurrence rows +
    (media_type, doc_id) rows first; distinct counts become row counts
    of these BOUNDED frames)."""
    per_hash = by_hash.groupBy("media_type").agg(
        F.sum(F.col("n_occurrences") * F.col("chunk_len"))
        .cast("long")
        .alias("total_bytes"),
        F.sum("n_occurrences").cast("long").alias("total_chunks"),
        F.count("*").cast("long").alias("distinct_chunks"),
        F.min("chunk_len").cast("int").alias("min_chunk_len"),
        F.max("chunk_len").cast("int").alias("max_chunk_len"),
    )
    per_asset = by_asset.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_assets")
    )
    return (
        per_hash.join(per_asset, "media_type")
        .select(
            "media_type",
            "n_assets",
            "total_bytes",
            "total_chunks",
            "distinct_chunks",
            "min_chunk_len",
            "max_chunk_len",
            F.expr(rat_round6_spark("total_bytes", "total_chunks")).alias(
                "mean_chunk_len_r6"
            ),
            F.expr(
                rat_round6_spark(
                    "total_chunks - distinct_chunks", "total_chunks"
                )
            ).alias("dup_chunk_share_r6"),
        )
        .orderBy("media_type")
    )


def _assets_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal asset projection on curation's pinned-partition
    documents (the _docs_par rule: per-byte HOF stages need more than
    the fixture's single parquet split)."""
    from .multimodal import project_assets

    return project_assets(_docs_par(spark, sf_dir))


ORACLE_CHUNK_CDC = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 1),
b AS (
  SELECT *, list_transform(generate_series(1, n),
           i -> CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS bs
  FROM a),
c AS (
  SELECT doc_id, media_type, hx, n,
         list_concat(list_concat([0],
           CASE WHEN n >= 2 THEN
             list_filter(generate_series(1, n - 1),
               i -> (bs[i] * 31 + bs[i + 1]) % {CDC_MOD} = 0)
           ELSE [] END), [n]) AS bounds
  FROM b),
ch AS (
  SELECT doc_id, media_type,
         CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS chunk_len,
         md5(substr(hx, 2 * bounds[i] + 1,
                    2 * (bounds[i + 1] - bounds[i]))) AS chunk_hash
  FROM c, LATERAL unnest(generate_series(1, len(bounds) - 1)) AS u(i)),
g AS (
  SELECT media_type,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_assets,
         CAST(SUM(chunk_len) AS BIGINT) AS total_bytes,
         CAST(COUNT(*) AS BIGINT) AS total_chunks,
         CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS distinct_chunks,
         CAST(MIN(chunk_len) AS INT) AS min_chunk_len,
         CAST(MAX(chunk_len) AS INT) AS max_chunk_len
  FROM ch GROUP BY 1)
SELECT media_type, n_assets, total_bytes, total_chunks, distinct_chunks,
       min_chunk_len, max_chunk_len,
       {rat_round6_duck("total_bytes", "total_chunks")}
         AS mean_chunk_len_r6,
       {rat_round6_duck("total_chunks - distinct_chunks", "total_chunks")}
         AS dup_chunk_share_r6
FROM g ORDER BY media_type
"""


# --------------------------------------------------------------------------
# Continuation batch E (r13 backlog): hourly-load Gini, HLL precision
# sweep, tolerance as-of join, per-cluster silhouette
# --------------------------------------------------------------------------

def ev_hourly_load_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the hourly event load per type — one scalar
    per type answering "how unevenly is this traffic spread over
    time?" (0 = perfectly flat, →1 = all volume in a few hours). The
    series is ZERO-FILLED over the global hour spine (a gappy series
    understates concentration — dead hours ARE the imbalance), and the
    statistic is the exact rearrangement form G = Σ(2i − n − 1)·x_(i)
    / (n·Σx) over ascending counts — pure integers, no float moments.

    Scale: one fact shuffle to (type, hour) counts; the spine is
    calendar-bounded (hours of history × types, never events); the
    rank window is PARTITIONED by type over that bounded spine."""
    ev = _events(spark, sf_dir)
    hr = F.expr(f"({_US}) div 3600000000")
    counts = ev.groupBy(
        "event_type", hr.alias("hr")
    ).agg(F.count("*").alias("n"))
    rng = counts.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    types = counts.select("event_type").distinct()
    spine = F.broadcast(types).crossJoin(
        F.broadcast(rng.select(F.explode(F.sequence("lo", "hi")).alias("hr")))
    )
    filled = spine.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = W.partitionBy("event_type").orderBy("n", "hr")
    ranked = filled.withColumn("i", F.row_number().over(w)).withColumn(
        "nh", F.count("*").over(W.partitionBy("event_type"))
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.sum((F.col("n") == 0).cast("long")).cast("long").alias(
                "n_zero_hours"
            ),
            F.sum("n").cast("long").alias("total_events"),
            F.sum(
                (2 * F.col("i") - F.col("nh") - 1) * F.col("n")
            ).cast("long").alias("gini_num"),
        )
        .select(
            "event_type",
            "n_hours",
            "n_zero_hours",
            "total_events",
            F.expr(
                rat_round6_spark("gini_num", "n_hours * total_events")
            ).alias("gini_r6"),
        )
        .orderBy("event_type")
    )


ORACLE_HOURLY_LOAD_GINI = f"""
WITH counts AS (
  SELECT event_type, ({_US_DUCK}) // 3600000000 AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
rng AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM counts),
spine AS (
  SELECT t.event_type, u.hr
  FROM (SELECT DISTINCT event_type FROM counts) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS hr FROM rng) u),
filled AS (
  SELECT s.event_type, s.hr, COALESCE(c.n, 0) AS n
  FROM spine s LEFT JOIN counts c USING (event_type, hr)),
ranked AS (
  SELECT event_type, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, hr) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS nh
  FROM filled),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_hours,
         CAST(SUM(n) AS BIGINT) AS total_events,
         CAST(SUM((2 * i - nh - 1) * n) AS BIGINT) AS gini_num
  FROM ranked GROUP BY 1)
SELECT event_type, n_hours, n_zero_hours, total_events,
       {rat_round6_duck("gini_num", "n_hours * total_events")} AS gini_r6
FROM g ORDER BY event_type
"""


# (m, scalebits = 60 − log2 m + 1, alpha_m) — the standard HLL bias
# constants; alpha_256 is the closed form 0.7213/(1 + 1.079/256),
# frozen here as the exact double literal so both engines multiply the
# identical value.
HLL_SWEEP = (
    (16, 57, 0.673),
    (64, 55, 0.709),
    (256, 53, 0.7213 / (1 + 1.079 / 256)),
)


def sketch_hll_precision_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HyperLogLog precision sweep: the deterministic fixed-md5 HLL of
    the distinct document contents at m = 16/64/256 registers, with
    the raw estimate and its relative error against the EXACT distinct
    count — the tuning table that justifies a register budget before
    shipping sketches into a rollup (the sketch_bloom_capacity_sweep
    pattern applied to cardinality). Everything is a pure function of
    the input multiset: hash = 60-bit md5 lane, register = max rho per
    bucket, harmonic sum carried as the EXACT integer Σ 2^(scalebits −
    rho) (a float Σ2^-rho would re-order differently per engine), the
    estimate one deterministic double expression from that integer.

    Scale: register max is idempotent over duplicates — no pre-dedup
    pass; exchanges are sketch-sized (Σm = 336 rows) regardless of
    corpus size. The exact-distinct audit column is the one
    corpus-sized agg (drop it in production and the sweep is pure
    sketch)."""
    docs = _docs(spark, sf_dir)
    ms = ", ".join(
        f"named_struct('m', {m}, 'scalebits', {sb}, 'alpha', {a!r}D)"
        for m, sb, a in HLL_SWEEP
    )
    h = docs.select(
        F.expr(
            "cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)"
        ).alias("h")
    )
    regs = (
        h.select(F.explode(F.expr(f"array({ms})")).alias("s"), "h")
        .select(
            F.col("s.m").alias("m"),
            F.col("s.scalebits").alias("scalebits"),
            F.col("s.alpha").alias("alpha"),
            (F.col("h") % F.col("s.m")).cast("int").alias("bucket"),
            F.expr("h div s.m").alias("w"),
        )
        .select(
            "m",
            "scalebits",
            "alpha",
            "bucket",
            F.when(F.col("w") == 0, F.col("scalebits"))
            .otherwise(F.col("scalebits") - F.length(F.expr("bin(w)")))
            .cast("int")
            .alias("rho"),
        )
        .groupBy("m", "scalebits", "alpha", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    dense = (
        spark.createDataFrame(
            [(m, sb, a) for m, sb, a in HLL_SWEEP],
            "m int, scalebits int, alpha double",
        )
        .select("m", "scalebits", "alpha",
                F.explode(F.expr("sequence(0, m - 1)")).alias("bucket"))
        .join(regs, ["m", "scalebits", "alpha", "bucket"], "left")
        .select("m", "scalebits", "alpha", "bucket",
                F.coalesce("reg", F.lit(0)).alias("reg"))
    )
    exact = docs.agg(
        F.countDistinct("text").cast("long").alias("exact_distinct")
    )
    per_m = dense.groupBy("m", "scalebits", "alpha").agg(
        F.sum((F.col("reg") == 0).cast("long")).cast("long").alias(
            "n_zero_registers"
        ),
        F.sum(
            F.expr("shiftleft(cast(1 as bigint), scalebits - reg)")
        ).cast("long").alias("harmonic_scaled"),
    )
    est = (
        F.col("alpha")
        * (F.col("m") * F.col("m")).cast("double")
        * F.expr(
            "cast(shiftleft(cast(1 as bigint), scalebits) as double)"
        )
        / F.col("harmonic_scaled").cast("double")
    )
    return (
        per_m.crossJoin(F.broadcast(exact))
        .withColumn("est_micros", F.floor(est * 1e6).cast("long"))
        .select(
            F.col("m").cast("int").alias("m"),
            "n_zero_registers",
            "harmonic_scaled",
            "est_micros",
            "exact_distinct",
            # empty corpus → exact 0 → error undefined, not an ANSI
            # div-by-zero
            F.expr(
                "case when exact_distinct > 0 then "
                + qrem_round6_spark(
                    "abs(est_micros - exact_distinct * 1000000)"
                    " div 1000000",
                    "exact_distinct",
                )
                + " end"
            ).alias("rel_err_r6"),
        )
        .orderBy("m")
    )


def _oracle_hll_sweep() -> str:
    ms = ", ".join(f"({m}, {sb}, {a!r})" for m, sb, a in HLL_SWEEP)
    return f"""
WITH sweep(m, scalebits, alpha) AS (VALUES {ms}),
h AS (
  SELECT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
  FROM documents),
regs AS (
  SELECT s.m, s.scalebits, s.alpha, CAST(h.h % s.m AS INT) AS bucket,
         MAX(CASE WHEN h.h // s.m = 0 THEN s.scalebits
                  ELSE s.scalebits - LENGTH(bin(h.h // s.m)) END) AS reg
  FROM h CROSS JOIN sweep s GROUP BY 1, 2, 3, 4),
dense AS (
  SELECT s.m, s.scalebits, s.alpha, u.bucket,
         COALESCE(r.reg, 0) AS reg
  FROM sweep s
  CROSS JOIN LATERAL unnest(generate_series(0, s.m - 1)) AS u(bucket)
  LEFT JOIN regs r
    ON r.m = s.m AND r.bucket = u.bucket),
exact AS (SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
          FROM documents),
per_m AS (
  SELECT m, scalebits, alpha,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_registers,
         CAST(SUM(CAST(1 AS BIGINT) << (scalebits - reg)) AS BIGINT)
           AS harmonic_scaled
  FROM dense GROUP BY 1, 2, 3),
est AS (
  SELECT m, n_zero_registers, harmonic_scaled, exact_distinct,
         CAST(FLOOR(alpha * CAST(m * m AS DOUBLE)
                    * CAST(CAST(1 AS BIGINT) << scalebits AS DOUBLE)
                    / CAST(harmonic_scaled AS DOUBLE) * 1e6) AS BIGINT)
           AS est_micros
  FROM per_m CROSS JOIN exact)
SELECT CAST(m AS INT) AS m, n_zero_registers, harmonic_scaled,
       est_micros, exact_distinct,
       CASE WHEN exact_distinct > 0 THEN
         {qrem_round6_duck(
             "abs(est_micros - exact_distinct * 1000000) // 1000000",
             "exact_distinct")} END AS rel_err_r6
FROM est ORDER BY m
"""


ASOF_TOL_US = 7 * 86_400_000_000  # 7-day staleness tolerance


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join WITH a staleness tolerance (the pandas
    ``merge_asof(tolerance=...)`` surface): each event carries the
    customer's most recent order ONLY if it is at most 7 days old at
    event time — an attribution window, not an unbounded lookback (a
    six-month-old order should not claim credit for today's click).
    Any match older than the tolerance nulls out, which is exactly
    equivalent to filtering after a plain backward as-of (every other
    candidate is older still).

    Scale: the asof_join_backward machinery — one shuffle per side on
    the key, one ordered window pass, no range explosion; the
    tolerance is a map-side mask after the join."""
    from .temporal import asof_join_backward

    ev = catalog.load(spark, sf_dir, "events")
    orders = (
        catalog.load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    probe = ev.select("user_id", "ts", "event_id", "event_type")
    build = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("bt"),
        F.col("o_orderkey").alias("m_orderkey"),
        F.col("o_orderdate").alias("m_orderdate"),
    )
    joined = asof_join_backward(
        probe, build, "user_id", "ts", "bt",
        ["m_orderkey", "m_orderdate"],
    )
    age_sql = (
        "(unix_micros(cast(ts as timestamp))"
        " - unix_micros(cast(m_orderdate as timestamp)))"
    )
    age = F.expr(age_sql)
    fresh = F.col("m_orderdate").isNotNull() & (age <= F.lit(ASOF_TOL_US))
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(fresh, F.col("m_orderkey")).alias("tol_orderkey"),
        F.when(fresh, F.col("m_orderdate")).alias("tol_orderdate"),
        # integer floor division on the LONG age — a double divide +
        # cast truncates in Spark but ROUNDS in a DuckDB CAST, so any
        # fractional hour >= 0.5 would break the cross-engine hash
        # (ADVICE r12 high); `div` and DuckDB `//` agree exactly on the
        # non-negative ages the backward as-of guarantees
        F.when(fresh, F.expr(f"{age_sql} div 3600000000")).alias(
            "staleness_hours"
        ),
    ).orderBy("event_id")


ORACLE_ASOF_TOLERANCE = f"""
WITH j AS (
  SELECT e.event_id, e.user_id, e.ts, e.event_type,
         o.o_orderkey AS m_orderkey, o.o_orderdate AS m_orderdate
  FROM events e ASOF LEFT JOIN
       (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2) o
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
SELECT event_id, user_id, ts, event_type,
       CASE WHEN m_orderdate IS NOT NULL
              AND epoch_us(ts) - epoch_us(m_orderdate) <= {ASOF_TOL_US}
            THEN m_orderkey END AS tol_orderkey,
       CASE WHEN m_orderdate IS NOT NULL
              AND epoch_us(ts) - epoch_us(m_orderdate) <= {ASOF_TOL_US}
            THEN m_orderdate END AS tol_orderdate,
       CASE WHEN m_orderdate IS NOT NULL
              AND epoch_us(ts) - epoch_us(m_orderdate) <= {ASOF_TOL_US}
            THEN (epoch_us(ts) - epoch_us(m_orderdate))
                 // 3600000000 END AS staleness_hours
FROM j ORDER BY event_id
"""


SIL_BOUNDARY_MICROS = 100_000  # s < 0.1 counts as a boundary point


def emb_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CLUSTER simplified silhouette of the kmeans clustering on
    the integer grid: for each vector, s = (b − a)/b with a = squared
    distance to its own (closest) centroid and b = squared distance to
    the nearest OTHER centroid — s ≈ 1 deep inside a cell, s → 0 on a
    boundary. Rolled up per cluster (mean / min / boundary share),
    this is the table that names WHICH clusters are tight and which
    are boundary-ridden — the per-cluster complement of
    emb_centroid_margin_bands' global margin histogram.

    Determinism: a and b are exact integers on the 2^-40 squared grid
    (< 2^53, so the BIGINT→DOUBLE casts are exact); s is one correctly
    rounded IEEE division, quantized by FLOOR to integer micros before
    any aggregation (the chi²-cell rule); per-cluster means are exact
    integer rationals of the micro sums via the qrem split.

    Scale: the all-centroid distance fold is map-only over the
    broadcast K×D literal; the top-2 cut is a vec_id-partitioned
    window; the rollup is K-bounded."""
    from .similarity import _km_cent_sql, _km_loop as _kml

    assigned, cent = _kml(spark, sf_dir)
    dists = assigned.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform({_km_cent_sql(cent)}, cv -> "
                "aggregate(zip_with(qv, cv, (x, c) -> (x - c) * (x - c)),"
                " cast(0 as bigint), (acc, v) -> acc + v))"
            )
        ).alias("cid", "d2"),
    )
    wr = W.partitionBy("vec_id").orderBy("d2", "cid")
    per_vec = (
        dists.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("cid"))).alias("cid"),
            F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("a2"),
            F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("b2"),
        )
        .select(
            "cid",
            F.when(F.col("b2") <= 0, F.lit(0))
            .otherwise(
                F.floor(
                    (F.col("b2") - F.col("a2")).cast("double")
                    / F.col("b2").cast("double")
                    * F.lit(1000000.0)
                )
            )
            .cast("long")
            .alias("s_micros"),
        )
    )
    return (
        per_vec.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("s_micros").cast("long").alias("sum_s_micros"),
            F.min("s_micros").cast("long").alias("min_s_micros"),
            F.max("s_micros").cast("long").alias("max_s_micros"),
            F.sum(
                (F.col("s_micros") < SIL_BOUNDARY_MICROS).cast("long")
            ).cast("long").alias("n_boundary"),
        )
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_points",
            F.expr(
                qrem_round6_spark("sum_s_micros", "n_points * 1000000")
            ).alias("mean_silhouette_r6"),
            "min_s_micros",
            "max_s_micros",
            "n_boundary",
            F.expr(rat_round6_spark("n_boundary", "n_points")).alias(
                "boundary_share_r6"
            ),
        )
        .orderBy("cid")
    )


ORACLE_CLUSTER_SILHOUETTE = f"""
{_KM_ORACLE_PREFIX},
per_vec AS (
  SELECT MIN(CASE WHEN rn = 1 THEN cid END) AS cid,
         MIN(CASE WHEN rn = 1 THEN d2 END) AS a2,
         MAX(CASE WHEN rn = 2 THEN d2 END) AS b2
  FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rn
    FROM d{KM_ITERS})
  WHERE rn <= 2 GROUP BY vec_id),
s AS (
  SELECT cid,
         CASE WHEN b2 <= 0 THEN 0
              ELSE CAST(FLOOR(CAST(b2 - a2 AS DOUBLE)
                              / CAST(b2 AS DOUBLE) * 1000000.0)
                        AS BIGINT) END AS s_micros
  FROM per_vec),
g AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(s_micros) AS BIGINT) AS sum_s_micros,
         CAST(MIN(s_micros) AS BIGINT) AS min_s_micros,
         CAST(MAX(s_micros) AS BIGINT) AS max_s_micros,
         CAST(SUM(CASE WHEN s_micros < {SIL_BOUNDARY_MICROS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
  FROM s GROUP BY 1)
SELECT CAST(cid AS INT) AS cid, n_points,
       {qrem_round6_duck("sum_s_micros", "n_points * 1000000")}
         AS mean_silhouette_r6,
       min_s_micros, max_s_micros, n_boundary,
       {rat_round6_duck("n_boundary", "n_points")} AS boundary_share_r6
FROM g ORDER BY cid
"""


# --------------------------------------------------------------------------
# Continuation batch F (r13 backlog): promo DiD, dup-graph modularity,
# char entropy by source
# --------------------------------------------------------------------------

def lineitem_promo_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of the discount rate: PROMO vs
    non-PROMO parts, before vs after the midpoint of the shipdate
    span — the causal-shaped read ("did promo parts' discounting
    change MORE than the baseline drift?") that a plain group mean
    can't give. Emits the four (group × period) cells with exact
    counts/sums and micro-rounded means, plus the DiD of those
    micro-rounded means (an INTEGER difference — defined on the same
    grid both engines round to, so no cross-engine tie can split).

    Scale: one broadcast dim join, one map-side tag, one 4-cell agg;
    the split date is a 1-row min/max agg broadcast back — no second
    fact scan (checkpoint-fronted)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    tagged = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(
            F.when(F.col("p_type") == "PROMO", F.lit("promo"))
            .otherwise(F.lit("other"))
            .alias("grp"),
            F.expr(
                "unix_micros(cast(l_shipdate as timestamp))"
                " div 86400000000"
            ).alias("day"),
            F.expr(
                "cast(floor(l_discount * 1000000 + 0.5) as bigint)"
            ).alias("disc_micros"),
        )
        .localCheckpoint(eager=True)  # feeds the span agg AND the cells
    )
    mid = tagged.agg(
        F.expr("(min(day) + max(day)) div 2").alias("mid_day")
    )
    cells = (
        tagged.crossJoin(F.broadcast(mid))
        .select(
            "grp",
            F.when(F.col("day") >= F.col("mid_day"), F.lit("post"))
            .otherwise(F.lit("pre"))
            .alias("period"),
            "disc_micros",
        )
        .groupBy("grp", "period")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("disc_micros").cast("long").alias("sum_disc_micros"),
        )
        .withColumn(
            "mean_disc_micros",
            F.expr(
                "(sum_disc_micros * 2 + n_lines) div (2 * n_lines)"
            ).cast("long"),
        )
        .localCheckpoint(eager=True)  # 4 rows; feeds the DiD pivot
    )
    did = cells.groupBy().agg(
        # NULL unless ALL FOUR cells exist — a degenerate corpus (no
        # promo lines, or an empty period) has no defined DiD; a silent
        # 3-term sum would be a wrong number, not a missing one
        F.when(
            F.count("*") == 4,
            F.sum(
                F.when(
                    (F.col("grp") == "promo")
                    & (F.col("period") == "post"),
                    F.col("mean_disc_micros"),
                )
                .when(
                    (F.col("grp") == "promo")
                    & (F.col("period") == "pre"),
                    -F.col("mean_disc_micros"),
                )
                .when(
                    (F.col("grp") == "other")
                    & (F.col("period") == "post"),
                    -F.col("mean_disc_micros"),
                )
                .otherwise(F.col("mean_disc_micros"))
            ),
        ).cast("long").alias("did_micros")
    )
    return (
        cells.crossJoin(F.broadcast(did))
        .select(
            "grp",
            "period",
            "n_lines",
            "sum_disc_micros",
            "mean_disc_micros",
            "did_micros",
            (F.col("did_micros").cast("double") / F.lit(1000000.0)).alias(
                "did_rate"
            ),
        )
        .orderBy("grp", "period")
    )


ORACLE_PROMO_DID = """
WITH tagged AS (
  SELECT CASE WHEN p_type = 'PROMO' THEN 'promo' ELSE 'other' END AS grp,
         epoch_us(l_shipdate) // 86400000000 AS day,
         CAST(FLOOR(l_discount * 1000000 + 0.5) AS BIGINT) AS disc_micros
  FROM lineitem JOIN part ON l_partkey = p_partkey),
mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid_day FROM tagged),
cells AS MATERIALIZED (
  SELECT grp,
         CASE WHEN day >= mid_day THEN 'post' ELSE 'pre' END AS period,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(disc_micros) AS BIGINT) AS sum_disc_micros
  FROM tagged CROSS JOIN mid GROUP BY 1, 2),
cells2 AS (
  SELECT *, CAST((sum_disc_micros * 2 + n_lines) // (2 * n_lines)
                 AS BIGINT) AS mean_disc_micros
  FROM cells),
did AS (
  SELECT CAST(CASE WHEN COUNT(*) = 4 THEN SUM(CASE
           WHEN grp = 'promo' AND period = 'post' THEN mean_disc_micros
           WHEN grp = 'promo' AND period = 'pre' THEN -mean_disc_micros
           WHEN grp = 'other' AND period = 'post' THEN -mean_disc_micros
           ELSE mean_disc_micros END) END AS BIGINT) AS did_micros
  FROM cells2)
SELECT grp, period, n_lines, sum_disc_micros, mean_disc_micros,
       did_micros,
       CAST(did_micros AS DOUBLE) / 1000000.0 AS did_rate
FROM cells2 CROSS JOIN did
ORDER BY grp, period
"""


def graph_neardup_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman modularity of the SOURCE partition on the near-dup
    graph: does duplication live inside sources (template reuse, high
    Q) or across them (syndication/scraping, Q ≈ 0 or negative)? Per
    source: nodes in the graph, intra-source edges L_c, degree mass
    d_c, and the exact integer numerator 4·m·L_c − d_c² of its
    modularity term; the global Q = Σ_c (4·m·L_c − d_c²) / (4·m²) is
    one exact signed rational, repeated per row.

    Envelope: d_c² and 4·m·L_c stay inside BIGINT while the dup-edge
    count m < ~1.5e9 — far above any thresholded dup graph this engine
    emits (the candidate generators are banded); past that the
    numerators widen to DECIMAL(38,0).

    Scale: edges come from the checkpointed _neardup_graph (bounded
    dup-pair set); source tagging is two joins of the edge list
    against the doc→source projection (dimension-sized vs the
    corpus); everything after is community-bounded."""
    edges, sym = _neardup_graph(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    e_tag = (
        edges.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
            ),
            "doc_b",
        )
        .localCheckpoint(eager=True)  # bounded edge set, feeds 3 aggs
    )
    m_tot = e_tag.agg(F.count("*").cast("long").alias("m"))
    intra = (
        e_tag.filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    deg = (
        sym.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("source"),
            ),
            "doc_a",
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_a").cast("long").alias("n_nodes"),
            F.count("*").cast("long").alias("degree_sum"),
        )
    )
    per_src = (
        deg.join(intra, "source", "left")
        .select(
            "source",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            "degree_sum",
        )
        .crossJoin(F.broadcast(m_tot))
        .withColumn(
            "q_num",
            (
                4 * F.col("m") * F.col("intra_edges")
                - F.col("degree_sum") * F.col("degree_sum")
            ).cast("long"),
        )
        .localCheckpoint(eager=True)  # community-bounded; feeds Q + rows
    )
    q = per_src.agg(F.sum("q_num").cast("long").alias("q_num_total"))
    return (
        per_src.crossJoin(F.broadcast(q))
        .select(
            "source",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            "q_num",
            F.expr(
                rat_round6_signed_spark("q_num_total", "4 * m * m")
            ).alias("modularity_r6"),
        )
        .orderBy("source")
    )


def _oracle_neardup_modularity() -> str:
    return f"""
WITH {_GRAPH_SYM_CTES},
src AS (SELECT doc_id, source FROM documents),
e_tag AS MATERIALIZED (
  SELECT e.doc_a, e.doc_b, sa.source AS src_a, sb.source AS src_b
  FROM dup e
  JOIN src sa ON e.doc_a = sa.doc_id
  JOIN src sb ON e.doc_b = sb.doc_id),
m_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e_tag),
intra AS (
  SELECT src_a AS source, CAST(COUNT(*) AS BIGINT) AS intra_edges
  FROM e_tag WHERE src_a = src_b GROUP BY 1),
deg AS (
  SELECT s.source, CAST(COUNT(DISTINCT g.doc_a) AS BIGINT) AS n_nodes,
         CAST(COUNT(*) AS BIGINT) AS degree_sum
  FROM sym g JOIN src s ON g.doc_a = s.doc_id
  GROUP BY 1),
per_src AS MATERIALIZED (
  SELECT d.source, d.n_nodes,
         COALESCE(i.intra_edges, 0) AS intra_edges, d.degree_sum,
         CAST(4 * m.m * COALESCE(i.intra_edges, 0)
              - d.degree_sum * d.degree_sum AS BIGINT) AS q_num,
         m.m
  FROM deg d LEFT JOIN intra i USING (source) CROSS JOIN m_tot m),
q AS (SELECT CAST(SUM(q_num) AS BIGINT) AS q_num_total FROM per_src)
SELECT source, n_nodes, intra_edges, degree_sum, q_num,
       {rat_round6_signed_duck("q_num_total", "4 * m * m")}
         AS modularity_r6
FROM per_src CROSS JOIN q
ORDER BY source
"""


def text_char_entropy_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon entropy (nats) of the CHARACTER distribution per source
    — the compressibility/diversity screen that separates natural prose
    (≈3 nats over lowercase+space) from template spam and binary-ish
    noise, at a fraction of a real compressor's cost. Restated to stay
    deterministic: H = ln T − S/T with S = Σ c·ln c over the
    character histogram; each c·ln c term is floored to integer micros
    of the identical IEEE double (the chi²-cell rule), the sum is an
    exact BIGINT over the ALPHABET-BOUNDED histogram, and the final H
    is one deterministic double expression floored back to micros.

    Scale: one explode to (source, char) counts with map-side combine
    (exchange is alphabet-sized per source), everything after is
    histogram-bounded. Entropy contributions use the house
    9dp-rounded ``c·ln c`` decimal-sum pattern (the
    ev_transition_entropy construct — order-independent exact decimal
    sum, final 6dp round on a transcendental that can't tie,
    TIES.md Class B)."""
    docs = _docs_par(spark, sf_dir)
    # split on CODE POINTS, not UTF-16 code units: F.split(text, '')
    # runs a Java regex over the UTF-16 string and cuts surrogate pairs
    # in half, while the DuckDB oracle's string_split_regex yields code
    # points — any non-BMP char (emoji, astral CJK) would diverge
    # (ADVICE r12). Spark's length()/substring() are UTF8String
    # code-point ops, so sequence+substring matches DuckDB exactly.
    chars = docs.select(
        "source",
        F.explode(
            F.expr(
                "case when length(text) > 0 then"
                " transform(sequence(1, length(text)),"
                " i -> substring(text, i, 1))"
                " else array() end"
            )
        ).alias("ch"),
    ).filter(F.col("ch") != "")
    hist = chars.groupBy("source", "ch").agg(F.count("*").alias("c"))
    per_src = hist.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_char_types"),
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(25,9)")
        ).alias("s"),
    )
    return per_src.select(
        "source",
        "n_chars",
        "n_char_types",
        F.round(
            F.round(F.log("n_chars"), 9)
            - F.col("s").cast("double") / F.col("n_chars"),
            6,
        ).alias("entropy_nats"),
    ).orderBy("source")


ORACLE_CHAR_ENTROPY = """
WITH chars AS (
  SELECT source, u.ch
  FROM documents, LATERAL unnest(string_split_regex(text, '')) AS u(ch)
  WHERE u.ch != ''),
hist AS (
  SELECT source, ch, COUNT(*) AS c
  FROM chars GROUP BY 1, 2),
per_src AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_chars,
         CAST(COUNT(*) AS BIGINT) AS n_char_types,
         SUM(CAST(ROUND(c * ln(c), 9) AS DECIMAL(25,9))) AS s
  FROM hist GROUP BY 1)
SELECT source, n_chars, n_char_types,
       ROUND(ROUND(ln(n_chars), 9) - CAST(s AS DOUBLE) / n_chars, 6)
         AS entropy_nats
FROM per_src ORDER BY source
"""


# --------------------------------------------------------------------------
# Continuation batch G (r13 backlog): PQ codebook utilization, dup-graph
# conductance, session bounce profile
# --------------------------------------------------------------------------

def emb_pq_codebook_utilization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Utilization of the product-quantization codebooks: per
    (subspace, codeword), how many vectors encode to that codeword,
    its share, and the per-subspace Simpson collision index (1/K =
    perfectly uniform; → 1 = one codeword hoards the subspace — wasted
    code bits, collapsing ADC resolution). The dense K×M grid is
    emitted (an unused codeword is a real 0-utilization row). The ANN
    health audit next to ``emb_pq_distortion``: distortion says how
    LOSSY the codes are, utilization says how BALANCED they are.

    Determinism: same encoding as sim_pq_adc — integer subspace
    distances on the 2^-20 grid, argmin ties to the LOWEST codeword id
    (array_position returns the first minimum, mirroring the oracle's
    (d2, k) row_number and numpy's argmin). Simpson is an exact count
    rational; its n² denominator stays inside the rat envelope to ~2e6
    vectors per corpus — past that the numerators widen to
    DECIMAL(38,0) (the chi² note).

    Scale: one map-side encode fold per vector over the broadcast
    K×M×{4}-int literal, one (M×K)-bounded agg; the spine cross is two
    tiny literals."""
    from .similarity import PQ_K, PQ_M, PQ_SUBDIM, _km_quantized

    qdf = _km_quantized(spark, sf_dir)
    seeds = qdf.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
    assert len(seeds) == PQ_K and all(
        r["vec_id"] == i for i, r in enumerate(seeds)
    ), f"PQ codebook seeds must be the contiguous vec_ids 0..{PQ_K - 1}"
    # cb_sql[m] = array over k of the codeword's m-th subvector
    cb_sql = "array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(
                f"{int(r['qv'][m * PQ_SUBDIM + j])}L"
                for j in range(PQ_SUBDIM)
            ) + ")"
            for r in seeds
        ) + ")"
        for m in range(PQ_M)
    ) + ")"
    enc = qdf.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                f"  cast(array_position("
                f"    transform(element_at({cb_sql}, m + 1), cw -> "
                f"      aggregate(zip_with("
                f"        slice(qv, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}),"
                f"        cw, (x, c) -> (x - c) * (x - c)),"
                f"        cast(0 as bigint), (acc, v) -> acc + v)),"
                f"    array_min("
                f"    transform(element_at({cb_sql}, m + 1), cw -> "
                f"      aggregate(zip_with("
                f"        slice(qv, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}),"
                f"        cw, (x, c) -> (x - c) * (x - c)),"
                f"        cast(0 as bigint), (acc, v) -> acc + v)))"
                f"  ) as int) - 1)"
            )
        ).alias("m", "code")
    )
    cnt = enc.groupBy("m", "code").agg(F.count("*").alias("n_assigned"))
    spine = spark.range(PQ_M).select(
        F.col("id").cast("int").alias("m"),
        F.explode(F.expr(f"sequence(0, {PQ_K - 1})")).alias("code"),
    )
    dense = spine.join(cnt, ["m", "code"], "left").select(
        "m",
        "code",
        F.coalesce("n_assigned", F.lit(0)).cast("long").alias("n_assigned"),
    ).localCheckpoint(eager=True)  # M×K-bounded; feeds rows + both rollups
    per_m = dense.groupBy("m").agg(
        F.sum("n_assigned").cast("long").alias("n_total"),
        F.sum(F.col("n_assigned") * F.col("n_assigned"))
        .cast("long")
        .alias("sum_sq"),
    )
    return (
        dense.join(F.broadcast(per_m), "m")
        .select(
            F.col("m").cast("int").alias("m"),
            F.col("code").cast("int").alias("code"),
            "n_assigned",
            F.expr(rat_round6_spark("n_assigned", "n_total")).alias(
                "share_r6"
            ),
            F.expr(
                rat_round6_spark("sum_sq", "n_total * n_total")
            ).alias("m_simpson_r6"),
        )
        .orderBy("m", "code")
    )


def _oracle_pq_utilization() -> str:
    from .similarity import EMB_DIM, KM_QUANT, PQ_K, PQ_M, PQ_SUBDIM

    return f"""
WITH dims AS (SELECT unnest(range({EMB_DIM})) AS dim),
q AS (
  SELECT e.vec_id, d.dim,
         CAST(TRUNC(CAST(e.embedding[d.dim + 1] AS DOUBLE)
                    * {KM_QUANT!r}) AS BIGINT) AS qv
  FROM embeddings e CROSS JOIN dims d),
sub AS (
  SELECT vec_id, dim // {PQ_SUBDIM} AS m, dim % {PQ_SUBDIM} AS j, qv
  FROM q),
cb AS (SELECT vec_id AS k, m, j, qv AS cv FROM sub WHERE vec_id < {PQ_K}),
dist AS (
  SELECT s.vec_id, s.m, c.k,
         CAST(SUM((s.qv - c.cv) * (s.qv - c.cv)) AS BIGINT) AS d2
  FROM sub s JOIN cb c ON s.m = c.m AND s.j = c.j
  GROUP BY 1, 2, 3),
enc AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, k) AS rn
    FROM dist) WHERE rn = 1),
cnt AS (
  SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n_assigned
  FROM enc GROUP BY 1, 2),
spine AS (
  SELECT mm.m, kk.code
  FROM (SELECT unnest(range({PQ_M})) AS m) mm
  CROSS JOIN (SELECT unnest(range({PQ_K})) AS code) kk),
dense AS MATERIALIZED (
  SELECT s.m, s.code, COALESCE(c.n_assigned, 0) AS n_assigned
  FROM spine s LEFT JOIN cnt c USING (m, code)),
per_m AS (
  SELECT m, CAST(SUM(n_assigned) AS BIGINT) AS n_total,
         CAST(SUM(n_assigned * n_assigned) AS BIGINT) AS sum_sq
  FROM dense GROUP BY 1)
SELECT CAST(d.m AS INT) AS m, CAST(d.code AS INT) AS code,
       CAST(d.n_assigned AS BIGINT) AS n_assigned,
       {rat_round6_duck("d.n_assigned", "p.n_total")} AS share_r6,
       {rat_round6_duck("p.sum_sq", "p.n_total * p.n_total")}
         AS m_simpson_r6
FROM dense d JOIN per_m p USING (m)
ORDER BY m, code
"""


def graph_neardup_conductance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conductance of each SOURCE community on the near-dup graph:
    φ(c) = cut(c) / min(vol(c), 2m − vol(c)) — the normalized-cut view
    that complements graph_neardup_modularity (modularity scores the
    whole partition; conductance names the INDIVIDUAL leaky source —
    φ → 1 means its dup edges mostly cross into other sources, the
    syndication signature; φ → 0 means self-contained template reuse).

    Scale: identical shape to the modularity op — checkpointed bounded
    edge set, two dimension-sized source joins, community-bounded
    rollups; exact count rationals."""
    edges, sym = _neardup_graph(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    e_tag = (
        edges.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
            ),
            "doc_b",
        )
        .localCheckpoint(eager=True)  # bounded edge set, feeds 3 aggs
    )
    m_tot = e_tag.agg(F.count("*").cast("long").alias("m"))
    cut = (
        e_tag.filter(F.col("src_a") != F.col("src_b"))
        .select(F.explode(F.array("src_a", "src_b")).alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("cut_edges"))
    )
    deg = (
        sym.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("source"),
            ),
            "doc_a",
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_a").cast("long").alias("n_nodes"),
            F.count("*").cast("long").alias("volume"),
        )
    )
    return (
        deg.join(cut, "source", "left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "source",
            "n_nodes",
            "volume",
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias(
                "cut_edges"
            ),
            F.expr(
                "case when least(volume, 2 * m - volume) > 0 then "
                + rat_round6_spark(
                    "coalesce(cut_edges, 0)",
                    "least(volume, 2 * m - volume)",
                )
                + " end"
            ).alias("conductance_r6"),
        )
        .orderBy("source")
    )


def _oracle_neardup_conductance() -> str:
    return f"""
WITH {_GRAPH_SYM_CTES},
src AS (SELECT doc_id, source FROM documents),
e_tag AS MATERIALIZED (
  SELECT e.doc_a, e.doc_b, sa.source AS src_a, sb.source AS src_b
  FROM dup e
  JOIN src sa ON e.doc_a = sa.doc_id
  JOIN src sb ON e.doc_b = sb.doc_id),
m_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e_tag),
cut AS (
  SELECT u.source, CAST(COUNT(*) AS BIGINT) AS cut_edges
  FROM e_tag, LATERAL unnest([src_a, src_b]) AS u(source)
  WHERE src_a != src_b GROUP BY 1),
deg AS (
  SELECT s.source, CAST(COUNT(DISTINCT g.doc_a) AS BIGINT) AS n_nodes,
         CAST(COUNT(*) AS BIGINT) AS volume
  FROM sym g JOIN src s ON g.doc_a = s.doc_id
  GROUP BY 1)
SELECT d.source, d.n_nodes, d.volume,
       CAST(COALESCE(c.cut_edges, 0) AS BIGINT) AS cut_edges,
       CASE WHEN least(d.volume, 2 * t.m - d.volume) > 0 THEN
         {rat_round6_duck(
             "COALESCE(c.cut_edges, 0)",
             "least(d.volume, 2 * t.m - d.volume)")} END
         AS conductance_r6
FROM deg d LEFT JOIN cut c USING (source) CROSS JOIN m_tot t
ORDER BY d.source
"""


def ev_session_bounce_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily bounce profile of the 30-minute sessionization: per UTC
    epoch day (of session START), sessions begun, single-event
    ("bounce") sessions, the bounce share, and mean events per session
    — the engagement-quality trend next to ev_hourly_session_load's
    capacity view (load says how MANY sessions; bounce says how many
    were dead on arrival).

    Scale: the standard island sessionization (user-partitioned lag +
    running flag-sum — no global window), one (user, seq) rollup, one
    calendar-bounded daily agg."""
    from .temporal import SESSION_GAP_US

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", F.expr(_US).alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("us") - F.col("prev_us") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("seq", F.sum("is_new").over(run))
        .groupBy("user_id", "seq")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("min(us) div 86400000000").alias("day_epoch"),
        )
    )
    return assemble_session_bounce_profile(sessions)


def assemble_session_bounce_profile(sessions: DataFrame) -> DataFrame:
    """Daily bounce rollup from per-session (n_events, day_epoch) rows —
    the shared batch/stream column contract (the
    assemble_chunk_cdc_profile pattern): the batch form feeds island
    sessions, streaming/jobs.run_session_bounce_stream feeds
    session_window sessions, and the DuckDB oracle gating the batch
    form transitively gates the stream."""
    return (
        sessions.groupBy("day_epoch")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long"))
            .cast("long")
            .alias("n_bounce_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .select(
            F.col("day_epoch").cast("long").alias("day_epoch"),
            "n_sessions",
            "n_bounce_sessions",
            F.expr(
                rat_round6_spark("n_bounce_sessions", "n_sessions")
            ).alias("bounce_share_r6"),
            "n_events",
            F.expr(rat_round6_spark("n_events", "n_sessions")).alias(
                "mean_events_per_session_r6"
            ),
        )
        .orderBy("day_epoch")
    )


def _oracle_session_bounce() -> str:
    from .temporal import SESSION_GAP_US

    return f"""
WITH flagged AS (
  SELECT user_id, event_id, {_US_DUCK} AS us,
         CASE WHEN LAG({_US_DUCK}) OVER w IS NULL
                OR {_US_DUCK} - LAG({_US_DUCK}) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY {_US_DUCK}, event_id)),
islands AS (
  SELECT user_id, us,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM flagged),
sessions AS (
  SELECT user_id, seq, COUNT(*) AS n_events,
         MIN(us) // 86400000000 AS day_epoch
  FROM islands GROUP BY 1, 2),
daily AS (
  SELECT day_epoch, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounce_sessions,
         CAST(SUM(n_events) AS BIGINT) AS n_events
  FROM sessions GROUP BY 1)
SELECT CAST(day_epoch AS BIGINT) AS day_epoch, n_sessions,
       n_bounce_sessions,
       {rat_round6_duck("n_bounce_sessions", "n_sessions")}
         AS bounce_share_r6,
       n_events,
       {rat_round6_duck("n_events", "n_sessions")}
         AS mean_events_per_session_r6
FROM daily ORDER BY day_epoch
"""


# --------------------------------------------------------------------------
# Round-13 batch (window slots 31-36; VERDICT r12 "Next round" #3): PII
# pattern audit, composite quality score, cross-snapshot CDC delta,
# inter-arrival burstiness, bucketed interval-coverage join, grid-quantile
# sketch error
# --------------------------------------------------------------------------

# PII-shaped token patterns. Deliberately restricted to syntax that Java
# regex (Spark) and RE2 (DuckDB) interpret identically: character classes,
# bounded repetition, alternation, ASCII \b — no backreferences, no
# lookaround, no Unicode classes. \d is ASCII in both engines here.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{7,15}|\b\d{3}-\d{3,4}-\d{4}\b"
PII_IDNUM = r"\b\d{9,}\b"


def text_pii_pattern_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII-pattern exposure audit: how many documents (and
    how many total matches) carry email-, IPv4-, phone-, or long-id-
    shaped tokens — the screening gate every real training-data
    pipeline runs before release (the redaction COUNTERPART of
    text_redact_denylist: this measures exposure, that removes it).
    The synthetic fixture corpus is clean word soup, so all counts are
    legitimately zero there; the planted-PII pytest twin carries the
    behavioural evidence (the dedup_cluster_pareto precedent).

    Scale: four JVM regexp_count passes fused into ONE map stage over
    the doc scan (whole-stage codegen; no Python, no explode), then an
    alphabet-free groupBy on source — exchange is one row per doc of
    five ints. At 100 TB this is scan-bound, exactly as cheap as the
    data allows."""
    return assemble_pii_audit(pii_per_doc(_docs_par(spark, sf_dir)))


def pii_per_doc(docs: DataFrame) -> DataFrame:
    """Per-doc PII match counts — the shared batch/stream projection
    (streaming/jobs.run_pii_audit_stream applies the identical four
    regexes, so the batch DuckDB oracle transitively gates the
    stream)."""
    return docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).alias("c_email"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4)).alias("c_ipv4"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE)).alias("c_phone"),
        F.regexp_count(F.col("text"), F.lit(PII_IDNUM)).alias("c_idnum"),
    )


def assemble_pii_audit(per_doc: DataFrame) -> DataFrame:
    """Source rollup of the per-doc PII counts (shared batch/stream
    column contract)."""
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("c_email") > 0).cast("long")).cast("long")
        .alias("email_docs"),
        F.sum("c_email").cast("long").alias("email_matches"),
        F.sum((F.col("c_ipv4") > 0).cast("long")).cast("long")
        .alias("ipv4_docs"),
        F.sum("c_ipv4").cast("long").alias("ipv4_matches"),
        F.sum((F.col("c_phone") > 0).cast("long")).cast("long")
        .alias("phone_docs"),
        F.sum("c_phone").cast("long").alias("phone_matches"),
        F.sum((F.col("c_idnum") > 0).cast("long")).cast("long")
        .alias("idnum_docs"),
        F.sum("c_idnum").cast("long").alias("idnum_matches"),
        F.sum(
            (
                (F.col("c_email") + F.col("c_ipv4") + F.col("c_phone")
                 + F.col("c_idnum")) > 0
            ).cast("long")
        ).cast("long").alias("pii_docs"),
    )
    return agg.select(
        "source", "n_docs", "email_docs", "email_matches", "ipv4_docs",
        "ipv4_matches", "phone_docs", "phone_matches", "idnum_docs",
        "idnum_matches", "pii_docs",
        F.expr(rat_round6_spark("pii_docs", "n_docs")).alias(
            "pii_doc_share_r6"
        ),
    ).orderBy("source")


ORACLE_PII_AUDIT = f"""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{PII_EMAIL}')) AS c_email,
         len(regexp_extract_all(text, '{PII_IPV4}')) AS c_ipv4,
         len(regexp_extract_all(text, '{PII_PHONE}')) AS c_phone,
         len(regexp_extract_all(text, '{PII_IDNUM}')) AS c_idnum
  FROM documents),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN c_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS email_docs,
         CAST(SUM(c_email) AS BIGINT) AS email_matches,
         CAST(SUM(CASE WHEN c_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ipv4_docs,
         CAST(SUM(c_ipv4) AS BIGINT) AS ipv4_matches,
         CAST(SUM(CASE WHEN c_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS phone_docs,
         CAST(SUM(c_phone) AS BIGINT) AS phone_matches,
         CAST(SUM(CASE WHEN c_idnum > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS idnum_docs,
         CAST(SUM(c_idnum) AS BIGINT) AS idnum_matches,
         CAST(SUM(CASE WHEN c_email + c_ipv4 + c_phone + c_idnum > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs
  FROM per_doc GROUP BY 1)
SELECT source, n_docs, email_docs, email_matches, ipv4_docs, ipv4_matches,
       phone_docs, phone_matches, idnum_docs, idnum_matches, pii_docs,
       {rat_round6_duck("pii_docs", "n_docs")} AS pii_doc_share_r6
FROM agg ORDER BY source
"""


# Composite quality gates: integer cross-multiplied thresholds so the
# score is exact on both engines. Stopword list matches the fixture
# register (function words the generator actually emits).
QUALITY_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def text_composite_quality_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE one number curation teams sort by (VERDICT r12 #3c): fold
    five orthogonal quality gates — length band, type-token ratio,
    stopword presence, mean-token-length band, max-token-length cap —
    into a 0..100 composite (20 points per gate), then report the
    per-source score histogram with exact shares. The gates are the
    text_quality / gopher-gate constructs restated as pure integer
    cross-multiplications, so the score is deterministic and the
    oracle is a full value-hash.

    Scale: one map stage of HOFs over the token array (no explode, no
    Python), one groupBy on (source, score) — the exchange carries six
    small ints per doc; output is sources x 6 bands."""
    docs = _docs_par(spark, sf_dir)
    stop_list = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    feats = docs.select(
        "source",
        F.expr(
            "filter(split(text, ' '), t -> length(t) > 0)"
        ).alias("toks"),
    ).select(
        "source",
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_distinct"),
        F.expr(
            "aggregate(toks, cast(0 as bigint),"
            " (acc, t) -> acc + length(t))"
        ).alias("sum_len"),
        F.expr(
            f"size(filter(toks, t -> t in ({stop_list})))"
        ).alias("n_stop"),
        F.expr(
            "coalesce(array_max(transform(toks, t -> length(t))), 0)"
        ).alias("max_len"),
    )
    score = F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
        20 * (
            ((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000))
            .cast("int")
            + (2 * F.col("n_distinct") >= F.col("n_tokens")).cast("int")
            + (100 * F.col("n_stop") >= 2 * F.col("n_tokens")).cast("int")
            + (
                (3 * F.col("n_tokens") <= F.col("sum_len"))
                & (F.col("sum_len") <= 12 * F.col("n_tokens"))
            ).cast("int")
            + (F.col("max_len") <= 20).cast("int")
        )
    )
    scored = feats.select("source", score.cast("int").alias("score"))
    per_src = scored.groupBy("source").agg(
        F.count("*").cast("long").alias("src_docs")
    )
    return (
        scored.groupBy("source", "score")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .join(per_src, "source")
        .select(
            "source",
            "score",
            "n_docs",
            F.expr(rat_round6_spark("n_docs", "src_docs")).alias(
                "doc_share_r6"
            ),
        )
        .orderBy("source", "score")
    )


ORACLE_COMPOSITE_QUALITY = f"""
WITH feats AS (
  SELECT source,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
  FROM documents),
f2 AS (
  SELECT source, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
              AS BIGINT) AS sum_len,
         len(list_filter(toks,
             t -> list_contains(
                 [{", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)}], t)))
           AS n_stop,
         coalesce(list_max(list_transform(toks, t -> length(t))), 0)
           AS max_len
  FROM feats),
scored AS (
  SELECT source,
         CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE 20 * (
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
                 THEN 1 ELSE 0 END)
           + (CASE WHEN 2 * n_distinct >= n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN 100 * n_stop >= 2 * n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN 3 * n_tokens <= sum_len
                    AND sum_len <= 12 * n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN max_len <= 20 THEN 1 ELSE 0 END)) END AS INT)
           AS score
  FROM f2),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs
  FROM scored GROUP BY 1)
SELECT s.source, s.score, CAST(COUNT(*) AS BIGINT) AS n_docs,
       {rat_round6_duck("COUNT(*)", "MAX(p.src_docs)")} AS doc_share_r6
FROM scored s JOIN per_src p ON s.source = p.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


def mm_cdc_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot CDC delta (VERDICT r12 #3d): split the corpus
    into two parity snapshots (doc_id % 2 — the stand-in for two
    ingest runs of the same feed), CDC-chunk both with the SHARED
    cdc_chunks projection, and report per media type how many distinct
    chunks (and bytes) are shared / added / removed between snapshots
    — the incremental-ingest question ("how much do we actually have
    to re-transfer and re-process?") that content-defined chunking
    exists to answer. transfer_savings_r6 = shared bytes / snapshot-B
    bytes is the rsync win.

    Scale: identical cost class to mm_chunk_cdc_profile — map-side HOF
    split, one explode bounded by corpus-bytes/CDC_MOD, one shuffle on
    (media_type, chunk_hash); the delta rollup is distinct-chunk-
    bounded."""
    chunks = cdc_chunks(_assets_curation(spark, sf_dir)).withColumn(
        "snap", (F.col("doc_id") % 2).cast("int")
    )
    by_hash = chunks.groupBy("media_type", "chunk_hash").agg(
        F.max((F.col("snap") == 0).cast("int")).alias("in_a"),
        F.max((F.col("snap") == 1).cast("int")).alias("in_b"),
        F.min("chunk_len").cast("long").alias("chunk_len"),
    )
    agg = by_hash.groupBy("media_type").agg(
        F.sum("in_a").cast("long").alias("chunks_a"),
        F.sum("in_b").cast("long").alias("chunks_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long")
        .alias("shared_chunks"),
        F.sum((1 - F.col("in_a")) * F.col("in_b")).cast("long")
        .alias("added_chunks"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long")
        .alias("removed_chunks"),
        F.sum(F.col("in_a") * F.col("chunk_len")).cast("long")
        .alias("bytes_a"),
        F.sum(F.col("in_b") * F.col("chunk_len")).cast("long")
        .alias("bytes_b"),
        F.sum(F.col("in_a") * F.col("in_b") * F.col("chunk_len"))
        .cast("long").alias("shared_bytes"),
    )
    return agg.select(
        "media_type", "chunks_a", "chunks_b", "shared_chunks",
        "added_chunks", "removed_chunks", "bytes_a", "bytes_b",
        "shared_bytes",
        F.expr(
            "case when bytes_b > 0 then "
            + rat_round6_spark("shared_bytes", "bytes_b")
            + " end"
        ).alias("transfer_savings_r6"),
    ).orderBy("media_type")


ORACLE_CDC_SNAPSHOT_DELTA = f"""
WITH a AS (
  SELECT doc_id, CAST(doc_id % 2 AS INT) AS snap,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 1),
b AS (
  SELECT *, list_transform(generate_series(1, n),
           i -> CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS bs
  FROM a),
c AS (
  SELECT doc_id, snap, media_type, hx, n,
         list_concat(list_concat([0],
           CASE WHEN n >= 2 THEN
             list_filter(generate_series(1, n - 1),
               i -> (bs[i] * 31 + bs[i + 1]) % {CDC_MOD} = 0)
           ELSE [] END), [n]) AS bounds
  FROM b),
ch AS (
  SELECT doc_id, snap, media_type,
         CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS chunk_len,
         md5(substr(hx, 2 * bounds[i] + 1,
                    2 * (bounds[i + 1] - bounds[i]))) AS chunk_hash
  FROM c, LATERAL unnest(generate_series(1, len(bounds) - 1)) AS u(i)),
by_hash AS (
  SELECT media_type, chunk_hash,
         MAX(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS in_b,
         CAST(MIN(chunk_len) AS BIGINT) AS chunk_len
  FROM ch GROUP BY 1, 2),
agg AS (
  SELECT media_type,
         CAST(SUM(in_a) AS BIGINT) AS chunks_a,
         CAST(SUM(in_b) AS BIGINT) AS chunks_b,
         CAST(SUM(in_a * in_b) AS BIGINT) AS shared_chunks,
         CAST(SUM((1 - in_a) * in_b) AS BIGINT) AS added_chunks,
         CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS removed_chunks,
         CAST(SUM(in_a * chunk_len) AS BIGINT) AS bytes_a,
         CAST(SUM(in_b * chunk_len) AS BIGINT) AS bytes_b,
         CAST(SUM(in_a * in_b * chunk_len) AS BIGINT) AS shared_bytes
  FROM by_hash GROUP BY 1)
SELECT media_type, chunks_a, chunks_b, shared_chunks, added_chunks,
       removed_chunks, bytes_a, bytes_b, shared_bytes,
       CASE WHEN bytes_b > 0 THEN
         {rat_round6_duck("shared_bytes", "bytes_b")} END
         AS transfer_savings_r6
FROM agg ORDER BY media_type
"""


def ev_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type burstiness of user inter-arrival times: gaps between a
    user's consecutive events (floor seconds), attributed to the LATER
    event's type, rolled up to n / mean / coefficient of variation /
    Goh-Barabási burstiness B = (σ−μ)/(σ+μ) ∈ (−1, 1): B ≈ −1 is a
    metronome (bot heartbeat), B ≈ 0 Poisson, B → 1 heavy-tailed human
    bursts — the traffic-shape fingerprint behind rate-limit and
    capacity choices (the dispersion complement of
    ev_fano_overdispersion, which bins counts instead of gaps).

    Determinism: gaps are exact integer seconds; Σx and Σx² are exact
    DECIMAL(38,0); variance numerator n·Σx² − (Σx)² is exact integer
    algebra, so σ is ONE sqrt of the identical IEEE double on both
    engines and the final 6dp rounds are transcendental-class
    (TIES.md Class B — cannot tie). mean_gap_s_r6 is the exact qrem
    rational.

    Scale: one shuffle on user_id for the lag window (user timelines
    are short and hash-balanced), one alphabet-sized rollup on
    event_type; no explode, no Python."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.expr(_US).alias("us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "event_type",
            F.expr("(us - prev_us) div 1000000").alias("gap_s"),
        )
    )
    agg = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("sum_s"),
        F.sum(
            (F.col("gap_s") * F.col("gap_s")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("sum_s2"),
    )
    var_num = (
        "(cast(n_gaps as decimal(38,0)) * sum_s2"
        " - cast(sum_s as decimal(38,0)) * cast(sum_s as decimal(38,0)))"
    )
    sigma = (
        f"sqrt(cast({var_num} as double)"
        " / (cast(n_gaps as double) * cast(n_gaps as double)))"
    )
    mean_d = "(cast(sum_s as double) / cast(n_gaps as double))"
    return agg.select(
        "event_type",
        "n_gaps",
        "sum_s",
        F.expr(qrem_round6_spark("sum_s", "n_gaps")).alias(
            "mean_gap_s_r6"
        ),
        F.expr(
            f"case when n_gaps >= 2 and sum_s > 0 then"
            f" round({sigma} / {mean_d}, 6) end"
        ).alias("cv_r6"),
        F.expr(
            f"case when n_gaps >= 2 and {sigma} + {mean_d} > 0 then"
            f" round(({sigma} - {mean_d}) / ({sigma} + {mean_d}), 6) end"
        ).alias("burstiness_r6"),
    ).orderBy("event_type")


ORACLE_INTERARRIVAL_BURSTINESS = f"""
WITH ev AS (
  SELECT user_id, event_type, {_US_DUCK} AS us, event_id FROM events),
gaps AS (
  SELECT event_type,
         (us - LAG(us) OVER (PARTITION BY user_id
                             ORDER BY us, event_id)) // 1000000 AS gap_s
  FROM ev),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS sum_s,
         CAST(SUM(CAST(gap_s AS HUGEINT) * gap_s) AS HUGEINT) AS sum_s2
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1)
SELECT event_type, n_gaps, sum_s,
       {qrem_round6_duck("sum_s", "n_gaps")} AS mean_gap_s_r6,
       CASE WHEN n_gaps >= 2 AND sum_s > 0 THEN
         ROUND(sqrt(CAST(CAST(n_gaps AS HUGEINT) * sum_s2
                         - CAST(sum_s AS HUGEINT) * sum_s AS DOUBLE)
                    / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))
               / (CAST(sum_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6)
       END AS cv_r6,
       CASE WHEN n_gaps >= 2 AND
         sqrt(CAST(CAST(n_gaps AS HUGEINT) * sum_s2
                   - CAST(sum_s AS HUGEINT) * sum_s AS DOUBLE)
              / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))
         + (CAST(sum_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) > 0 THEN
         ROUND((sqrt(CAST(CAST(n_gaps AS HUGEINT) * sum_s2
                          - CAST(sum_s AS HUGEINT) * sum_s AS DOUBLE)
                     / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))
                - (CAST(sum_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
               / (sqrt(CAST(CAST(n_gaps AS HUGEINT) * sum_s2
                            - CAST(sum_s AS HUGEINT) * sum_s AS DOUBLE)
                       / (CAST(n_gaps AS DOUBLE)
                          * CAST(n_gaps AS DOUBLE)))
                  + (CAST(sum_s AS DOUBLE) / CAST(n_gaps AS DOUBLE))), 6)
       END AS burstiness_r6
FROM agg ORDER BY event_type
"""


ATTR_WINDOW_US = 30 * 60 * 1_000_000  # each click opens a 30-min window


def ev_interval_coverage_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-interval join WITHOUT an inequality shuffle: every
    'click' opens a 30-minute attribution window [ts, ts+30m); every
    event is annotated with how many of the SAME USER's click windows
    cover it (and the first/last covering click) — the generic
    interval-overlap primitive (ad attribution, incident blast-radius,
    promo exposure) that Spark lacks natively.

    Scale: the textbook bucketed range join — a 30-min window spans at
    most TWO hour buckets, so intervals explode into ≤2 (user, hour)
    rows and the join is a pure EQUI-join on (user_id, hour_bucket)
    with the exact containment predicate applied map-side after
    co-location. Candidate fan-out is bounded by windows×2 — never the
    |events|×|windows| inequality cross product a naive range join
    shuffles. One final groupBy on event_id + a left join back."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", F.expr(_US).alias("us")
    )
    windows = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("w_user"),
        F.col("event_id").alias("w_event"),
        F.col("us").alias("w_us"),
    )
    # each window covers hour buckets floor(w_us/1h) .. floor((w_us+30m)/1h)
    wb = windows.select(
        "w_user",
        "w_event",
        "w_us",
        F.explode(
            F.expr(
                "sequence(w_us div 3600000000,"
                f" (w_us + {ATTR_WINDOW_US} - 1) div 3600000000)"
            )
        ).alias("hb"),
    )
    pts = ev.select(
        "event_id", "user_id", "us", F.expr("us div 3600000000").alias("hb")
    )
    cov = (
        pts.join(
            wb,
            (pts["user_id"] == wb["w_user"]) & (pts["hb"] == wb["hb"]),
        )
        .filter(
            (F.col("us") >= F.col("w_us"))
            & (F.col("us") < F.col("w_us") + F.lit(ATTR_WINDOW_US))
        )
        .groupBy("event_id")
        .agg(
            F.count("*").cast("long").alias("n_covering"),
            F.min("w_event").cast("long").alias("first_window_event"),
            F.max("w_event").cast("long").alias("last_window_event"),
        )
    )
    return (
        ev.join(cov, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.coalesce("n_covering", F.lit(0)).cast("long")
            .alias("n_covering"),
            "first_window_event",
            "last_window_event",
        )
        .orderBy("event_id")
    )


ORACLE_INTERVAL_COVERAGE = f"""
WITH ev AS (
  SELECT event_id, user_id, ts, event_type, {_US_DUCK} AS us FROM events),
win AS (
  SELECT user_id AS w_user, event_id AS w_event, us AS w_us
  FROM ev WHERE event_type = 'click'),
cov AS (
  SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_covering,
         CAST(MIN(w.w_event) AS BIGINT) AS first_window_event,
         CAST(MAX(w.w_event) AS BIGINT) AS last_window_event
  FROM ev e JOIN win w
    ON e.user_id = w.w_user
   AND e.us >= w.w_us AND e.us < w.w_us + {ATTR_WINDOW_US}
  GROUP BY 1)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       COALESCE(c.n_covering, 0) AS n_covering,
       c.first_window_event, c.last_window_event
FROM ev e LEFT JOIN cov c ON e.event_id = c.event_id
ORDER BY e.event_id
"""


GRIDQ_BINS = 1024  # equi-width sketch grid over [0, global max cents]


def sketch_grid_quantile_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic quantile-sketch error profile: estimate p50/p90/
    p99 of spend cents per event type from a fixed 1024-bin equi-width
    histogram (the mergeable, bounded-memory sketch a streaming system
    would keep) and report each estimate NEXT TO the exact type-1
    percentile and its absolute error — the full-oracle sibling that
    quantifies what agg_approx_percentiles' engine sketch trades away
    (the heavy-hitters/CMS upgrade precedent: a deterministic mirror
    of an approximate structure, value-hash checkable).

    Estimate rule: rank = (q·n + 99) div 100 (house type-1 rank); the
    sketch answers the least bin whose cumulative count reaches the
    rank, read out as the bin's EXCLUSIVE upper edge — always ≥ the
    exact value, so err = est − exact ∈ [0, bin width]. All integer.

    Scale: the histogram is one groupBy on (type, bin) — alphabet ×
    1024 rows; the exact side is one value-ordered window per type
    (the exact-percentile posture). At stream scale only the sketch
    side survives; this op exists to certify its error envelope."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.expr(_CENTS).alias("cents"), "event_id"
    )
    gmax = ev.agg(F.max("cents").alias("gmax"))
    binned = ev.crossJoin(F.broadcast(gmax)).select(
        "event_type",
        "cents",
        "event_id",
        "gmax",
        F.expr(f"(cents * {GRIDQ_BINS}) div (gmax + 1)").alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count("*").cast("long").alias("c"),
        F.min("gmax").alias("gmax"),
    )
    wcum = W.partitionBy("event_type").orderBy("bin")
    wall = W.partitionBy("event_type")
    cum = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(wall))
    )
    est = cum.groupBy("event_type").agg(
        F.min("gmax").cast("long").alias("gmax"),
        F.min("n").cast("long").alias("n"),
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({q} * n + 99) div 100"),
                    F.col("bin"),
                )
            ).alias(f"b{q}")
            for q in (50, 90, 99)
        ],
    )
    wr = W.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = binned.withColumn("rn", F.row_number().over(wr)).withColumn(
        "nn", F.count("*").over(W.partitionBy("event_type"))
    )
    exact = ranked.groupBy("event_type").agg(
        *[
            F.min(
                F.when(
                    F.col("rn") == F.expr(f"({q} * nn + 99) div 100"),
                    F.col("cents"),
                )
            ).cast("long").alias(f"p{q}_exact")
            for q in (50, 90, 99)
        ]
    )
    out = est.join(exact, "event_type")
    cols = ["event_type", "n", "gmax"]
    sel = [F.col(c) for c in cols]
    for q in (50, 90, 99):
        e = f"((b{q} + 1) * (gmax + 1)) div {GRIDQ_BINS}"
        sel += [
            F.col(f"p{q}_exact"),
            F.expr(e).cast("long").alias(f"p{q}_est"),
            F.expr(f"{e} - p{q}_exact").cast("long").alias(f"p{q}_err"),
        ]
    return out.select(*sel).orderBy("event_type")


def _gridq_oracle() -> str:
    qcols = []
    for q in (50, 90, 99):
        e = f"((b{q} + 1) * (gmax + 1)) // {GRIDQ_BINS}"
        qcols.append(
            f"p{q}_exact, CAST({e} AS BIGINT) AS p{q}_est,\n"
            f"       CAST({e} - p{q}_exact AS BIGINT) AS p{q}_err"
        )
    bsel = ",\n         ".join(
        f"CAST(MIN(CASE WHEN cum >= ({q} * n + 99) // 100"
        f" THEN bin END) AS BIGINT) AS b{q}"
        for q in (50, 90, 99)
    )
    xsel = ",\n         ".join(
        f"CAST(MIN(CASE WHEN rn = ({q} * nn + 99) // 100"
        f" THEN cents END) AS BIGINT) AS p{q}_exact"
        for q in (50, 90, 99)
    )
    return f"""
WITH ev AS (
  SELECT event_type, {_CENTS_DUCK} AS cents, event_id FROM events),
g AS (SELECT MAX(cents) AS gmax FROM ev),
binned AS (
  SELECT event_type, cents, event_id, g.gmax,
         (cents * {GRIDQ_BINS}) // (g.gmax + 1) AS bin
  FROM ev CROSS JOIN g),
hist AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c,
         MIN(gmax) AS gmax
  FROM binned GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin, gmax,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist),
est AS (
  SELECT event_type, CAST(MIN(gmax) AS BIGINT) AS gmax,
         CAST(MIN(n) AS BIGINT) AS n,
         {bsel}
  FROM cum GROUP BY 1),
ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS nn
  FROM binned),
exact AS (
  SELECT event_type, {xsel}
  FROM ranked GROUP BY 1)
SELECT e.event_type, e.n, e.gmax,
       {", ".join(qcols)}
FROM est e JOIN exact x ON e.event_type = x.event_type
ORDER BY e.event_type
"""


ORACLE_GRID_QUANTILE_ERROR = _gridq_oracle()


# --------------------------------------------------------------------------
# Continuation batch H (r14 backlog; queued beyond the window): PII
# redaction corpus, CDC chunk-size quantiles, bigram entropy rate, forward
# as-of, tenure churn hazard, cell label purity, magic mismatch audit
# --------------------------------------------------------------------------


def text_pii_redaction_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction artifact the PII audit motivates: every email/IPv4/
    phone/long-id-shaped token replaced by a typed placeholder, with
    per-doc redaction counts and the redacted text's md5 — the
    before-release corpus transform (text_redact_denylist's pattern
    sibling: that removes known words, this removes SHAPES). Patterns
    are applied in the audit's fixed order; replaced spans contain no
    digits, so later patterns cannot re-match inside a placeholder.

    Scale: four chained JVM regexp_replace passes in ONE codegen'd map
    stage over the doc scan — no shuffle at all (the output is
    doc-grain); at 100 TB this is the cheapest possible corpus pass."""
    docs = _docs_par(spark, sf_dir)
    # column-form regexp_replace (patterns via lit, never through the SQL
    # string parser — a '\d' inside an F.expr literal loses its backslash);
    # each pattern is COUNTED on the text the previous replacements
    # produced, so n_redactions is the number of replacements actually
    # made (a +49...-style token must not double-count as phone AND id)
    red = F.col("text")
    n_red = F.lit(0)
    for pat, rep in (
        (PII_EMAIL, "<EMAIL>"),
        (PII_IPV4, "<IP>"),
        (PII_PHONE, "<PHONE>"),
        (PII_IDNUM, "<ID>"),
    ):
        n_red = n_red + F.regexp_count(red, F.lit(pat))
        red = F.regexp_replace(red, F.lit(pat), F.lit(rep))
    return docs.select(
        "doc_id",
        "source",
        n_red.cast("long").alias("n_redactions"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


ORACLE_PII_REDACTION = f"""
WITH r0 AS (SELECT doc_id, source, text AS t FROM documents),
r1 AS (SELECT doc_id, source,
         len(regexp_extract_all(t, '{PII_EMAIL}')) AS c,
         regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t FROM r0),
r2 AS (SELECT doc_id, source,
         c + len(regexp_extract_all(t, '{PII_IPV4}')) AS c,
         regexp_replace(t, '{PII_IPV4}', '<IP>', 'g') AS t FROM r1),
r3 AS (SELECT doc_id, source,
         c + len(regexp_extract_all(t, '{PII_PHONE}')) AS c,
         regexp_replace(t, '{PII_PHONE}', '<PHONE>', 'g') AS t FROM r2),
r4 AS (SELECT doc_id, source,
         c + len(regexp_extract_all(t, '{PII_IDNUM}')) AS c,
         regexp_replace(t, '{PII_IDNUM}', '<ID>', 'g') AS t FROM r3)
SELECT doc_id, source, CAST(c AS BIGINT) AS n_redactions,
       CAST(length(t) AS BIGINT) AS redacted_len,
       md5(t) AS redacted_md5
FROM r4 ORDER BY doc_id
"""


def mm_chunk_size_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 p50/p90/p99 of CDC chunk lengths per media type —
    the distribution detail mm_chunk_cdc_profile's min/mean/max hides
    (dedup ratio and transfer cost are driven by the chunk-size TAIL:
    a fat p99 means the rolling hash is under-splitting long runs).

    Scale: the chunk explode is the shared corpus-bytes/CDC_MOD bound;
    the rank window partitions by media_type over integer lengths (the
    exact-percentile posture); output is one row per media type."""
    chunks = cdc_chunks(_assets_curation(spark, sf_dir)).select(
        "media_type", "chunk_len", "doc_id"
    )
    wr = W.partitionBy("media_type").orderBy("chunk_len", "doc_id")
    wn = W.partitionBy("media_type")
    ranked = chunks.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    return (
        ranked.groupBy("media_type")
        .agg(
            F.min("n").cast("long").alias("n_chunks"),
            *[
                F.min(
                    F.when(
                        F.col("rn") == F.expr(f"({q} * n + 99) div 100"),
                        F.col("chunk_len"),
                    )
                ).cast("long").alias(f"p{q}_len")
                for q in (50, 90, 99)
            ],
        )
        .orderBy("media_type")
    )


ORACLE_CHUNK_SIZE_QUANTILES = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 1),
b AS (
  SELECT *, list_transform(generate_series(1, n),
           i -> CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS bs
  FROM a),
c AS (
  SELECT doc_id, media_type, n,
         list_concat(list_concat([0],
           CASE WHEN n >= 2 THEN
             list_filter(generate_series(1, n - 1),
               i -> (bs[i] * 31 + bs[i + 1]) % {CDC_MOD} = 0)
           ELSE [] END), [n]) AS bounds
  FROM b),
ch AS (
  SELECT doc_id, media_type,
         CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS chunk_len
  FROM c, LATERAL unnest(generate_series(1, len(bounds) - 1)) AS u(i)),
ranked AS (
  SELECT media_type, chunk_len,
         ROW_NUMBER() OVER (PARTITION BY media_type
                            ORDER BY chunk_len, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY media_type) AS n
  FROM ch)
SELECT media_type, CAST(MIN(n) AS BIGINT) AS n_chunks,
       CAST(MIN(CASE WHEN rn = (50 * n + 99) // 100 THEN chunk_len END)
            AS BIGINT) AS p50_len,
       CAST(MIN(CASE WHEN rn = (90 * n + 99) // 100 THEN chunk_len END)
            AS BIGINT) AS p90_len,
       CAST(MIN(CASE WHEN rn = (99 * n + 99) // 100 THEN chunk_len END)
            AS BIGINT) AS p99_len
FROM ranked GROUP BY 1 ORDER BY media_type
"""


def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram conditional entropy H(next|prev) in nats — the
    entropy RATE that separates diverse prose (high) from templated or
    loop-generated text (low) more sharply than the unigram entropy
    screens (a spam corpus can have a healthy unigram mix but near-zero
    next-token surprise). Identity used: H = (S1 − S2)/N with
    S1 = Σ_x c_x·ln c_x over bigram-PREFIX counts, S2 = Σ_xy c_xy·ln
    c_xy over bigram counts, N = total bigrams — each c·ln c term
    half-up 9dp-rounded to a decimal before the exact order-free sum
    (the ev_transition_entropy construct, TIES.md Class B).

    Scale: one bigram explode (corpus token-count rows), two hash aggs
    with map-side combine keyed on (source, prefix[, next]) — the
    vocabulary-bounded bigram-LM cost class; the final rollup is
    source-alphabet-sized."""
    docs = _docs_par(spark, sf_dir)
    occ = (
        docs.select(
            "source",
            # empty tokens (leading/trailing/double spaces) are not words
            # — an unfiltered split would mint phantom (w, '') bigrams
            F.expr(
                "filter(split(text, ' '), t -> length(t) > 0)"
            ).alias("ws"),
        )
        .filter(F.size("ws") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> "
                    "named_struct('w1', element_at(ws, i), "
                    "'w2', element_at(ws, i + 1)))"
                )
            ).alias("bg"),
        )
        .select("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .localCheckpoint(eager=True)  # feeds pair AND prefix counts
    )
    pair = occ.groupBy("source", "w1", "w2").agg(F.count("*").alias("c"))
    pre = occ.groupBy("source", "w1").agg(F.count("*").alias("c"))
    s2 = pair.groupBy("source").agg(
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(25,9)")
        ).alias("s2"),
        F.sum("c").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
    )
    s1 = pre.groupBy("source").agg(
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(25,9)")
        ).alias("s1"),
        F.count("*").cast("long").alias("n_prefixes"),
    )
    return (
        s2.join(s1, "source")
        .select(
            "source",
            "n_bigrams",
            "n_prefixes",
            "n_distinct_bigrams",
            F.round(
                (F.col("s1").cast("double") - F.col("s2").cast("double"))
                / F.col("n_bigrams"),
                6,
            ).alias("entropy_rate_nats"),
        )
        .orderBy("source")
    )


ORACLE_BIGRAM_ENTROPY_RATE = """
WITH toks AS (
  SELECT source,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS ws
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> length(t) > 0)) >= 2),
occ AS (
  SELECT source, ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)),
pair AS (
  SELECT source, w1, w2, COUNT(*) AS c FROM occ GROUP BY 1, 2, 3),
pre AS (
  SELECT source, w1, COUNT(*) AS c FROM occ GROUP BY 1, 2),
s2 AS (
  SELECT source,
         SUM(CAST(ROUND(c * ln(c), 9) AS DECIMAL(25,9))) AS s2,
         CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
  FROM pair GROUP BY 1),
s1 AS (
  SELECT source,
         SUM(CAST(ROUND(c * ln(c), 9) AS DECIMAL(25,9))) AS s1,
         CAST(COUNT(*) AS BIGINT) AS n_prefixes
  FROM pre GROUP BY 1)
SELECT s2.source, n_bigrams, n_prefixes, n_distinct_bigrams,
       ROUND((CAST(s1 AS DOUBLE) - CAST(s2.s2 AS DOUBLE)) / n_bigrams, 6)
         AS entropy_rate_nats
FROM s2 JOIN s1 ON s2.source = s1.source
ORDER BY s2.source
"""


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for every event, the customer's NEXT order
    (earliest o_orderdate >= ts) with the integer-floor lead time in
    hours — "time to next purchase", the conversion-lag read that the
    backward family (join_asof / _nearest / _tolerance) cannot answer.
    Completes the as-of surface: backward, nearest, tolerance, forward.

    Scale: the asof_join_forward machinery — one shuffle per side on
    the key, one reversed ordered-window pass, no range explosion."""
    from .temporal import asof_join_forward

    ev = catalog.load(spark, sf_dir, "events")
    orders = (
        catalog.load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    probe = ev.select("user_id", "ts", "event_id", "event_type")
    build = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("bt"),
        F.col("o_orderkey").alias("nx_orderkey"),
        F.col("o_orderdate").alias("nx_orderdate"),
    )
    joined = asof_join_forward(
        probe, build, "user_id", "ts", "bt",
        ["nx_orderkey", "nx_orderdate"],
    )
    lead_sql = (
        "(unix_micros(cast(nx_orderdate as timestamp))"
        " - unix_micros(cast(ts as timestamp)))"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "nx_orderkey",
        "nx_orderdate",
        # non-negative by construction (bt >= ts): div == floor, exactly
        # DuckDB's // (the join_asof_tolerance r13 rule)
        F.when(
            F.col("nx_orderdate").isNotNull(),
            F.expr(f"{lead_sql} div 3600000000"),
        ).alias("lead_hours"),
    ).orderBy("event_id")


ORACLE_ASOF_FORWARD = """
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       o.o_orderkey AS nx_orderkey, o.o_orderdate AS nx_orderdate,
       CASE WHEN o.o_orderdate IS NOT NULL THEN
         (epoch_us(o.o_orderdate) - epoch_us(e.ts)) // 3600000000
       END AS lead_hours
FROM events e ASOF LEFT JOIN
     (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2) o
  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
ORDER BY e.event_id
"""


CHURN_SILENCE_DAYS = 7  # a user is churned once silent for > 7 days


def ev_tenure_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival table over user tenure: per observed tenure
    week (last-active − first-active, in floor weeks), how many users'
    activity ENDED there (uncensored: silent > {CHURN_SILENCE_DAYS}d
    before feed end), how many are right-CENSORED (still active near
    feed end — their true tenure is longer), the at-risk population
    (tenure ≥ w), and the discrete hazard n_ending/n_at_risk — the
    survival-analysis read that ev_lifecycle_accounting's weekly ledger
    doesn't give (hazard is BY AGE, the ledger is by calendar week).

    Scale: one per-user min/max agg (shuffle on user_id), one
    tenure-week rollup, one descending cumsum over the weeks-bounded
    table (global window justified: rows ≤ feed-span/7)."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.expr(f"({_US}) div 86400000000").alias("day")
    )
    u = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    end = u.agg(F.max("last_day").alias("feed_end"))
    spans = u.crossJoin(F.broadcast(end)).select(
        F.expr("(last_day - first_day) div 7").alias("tenure_weeks"),
        (
            F.col("last_day") > F.col("feed_end") - CHURN_SILENCE_DAYS
        ).cast("int").alias("censored"),
    )
    tbl = spans.groupBy("tenure_weeks").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("n_ending"),
        F.sum("censored").cast("long").alias("n_censored"),
    )
    w_desc = (
        W.orderBy(F.desc("tenure_weeks"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tbl.withColumn(
            "n_at_risk",
            F.sum(F.col("n_ending") + F.col("n_censored")).over(w_desc)
            .cast("long"),
        )
        .select(
            F.col("tenure_weeks").cast("long").alias("tenure_weeks"),
            "n_ending",
            "n_censored",
            "n_at_risk",
            F.expr(rat_round6_spark("n_ending", "n_at_risk")).alias(
                "hazard_r6"
            ),
        )
        .orderBy("tenure_weeks")
    )


ORACLE_TENURE_CHURN = f"""
WITH u AS (
  SELECT user_id, MIN({_US_DUCK} // 86400000000) AS first_day,
         MAX({_US_DUCK} // 86400000000) AS last_day
  FROM events GROUP BY 1),
e AS (SELECT MAX(last_day) AS feed_end FROM u),
spans AS (
  SELECT (last_day - first_day) // 7 AS tenure_weeks,
         CASE WHEN last_day > feed_end - {CHURN_SILENCE_DAYS}
              THEN 1 ELSE 0 END AS censored
  FROM u CROSS JOIN e),
tbl AS (
  SELECT tenure_weeks,
         CAST(SUM(1 - censored) AS BIGINT) AS n_ending,
         CAST(SUM(censored) AS BIGINT) AS n_censored
  FROM spans GROUP BY 1),
risk AS (
  SELECT *, CAST(SUM(n_ending + n_censored) OVER (
              ORDER BY tenure_weeks DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_risk
  FROM tbl)
SELECT CAST(tenure_weeks AS BIGINT) AS tenure_weeks, n_ending, n_censored,
       n_at_risk,
       {rat_round6_duck("n_ending", "n_at_risk")} AS hazard_r6
FROM risk ORDER BY tenure_weeks
"""


def emb_cell_purity_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the sign-grid cells: per cell, the majority
    label's share — the bucket-grain homophily view
    (emb_knn_label_homophily asks "do neighbors agree?" at the kNN
    grain; this asks "does the cheapest LSH bucketing already separate
    labels?", which is what decides whether bucket-local
    classification/sampling is safe). Majority ties break to the
    smallest label (window order, both engines).

    Scale: map-side bit-fold to cells, one (cell, label) agg, a
    2^{GRID_SIGN_DIMS}-bounded window — everything after the first agg
    is grid-bounded."""
    emb = _emb(spark, sf_dir)
    cell = F.expr(
        f"aggregate(sequence(0, {GRID_SIGN_DIMS - 1}), 0L, (acc, d) -> "
        f"acc + case when cast(element_at(embedding, d + 1) as double)"
        f" > 0.0d then shiftleft(1L, d) else 0L end)"
    )
    cl = (
        emb.select(cell.alias("cell"), F.col("label").cast("long").alias("label"))
        .groupBy("cell", "label")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wmaj = W.partitionBy("cell").orderBy(F.desc("c"), "label")
    per_cell = cl.groupBy("cell").agg(
        F.sum("c").cast("long").alias("n_vectors"),
        F.count("*").cast("long").alias("n_labels"),
    )
    maj = cl.withColumn("rn", F.row_number().over(wmaj)).filter(
        F.col("rn") == 1
    )
    return (
        per_cell.join(maj.select("cell", "label", "c"), "cell")
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vectors",
            "n_labels",
            F.col("label").alias("majority_label"),
            F.col("c").alias("majority_count"),
            F.expr(rat_round6_spark("c", "n_vectors")).alias(
                "majority_share_r6"
            ),
        )
        .orderBy("cell")
    )


ORACLE_CELL_PURITY = f"""
WITH cells AS (
  SELECT CAST(list_sum(list_transform(range(0, {GRID_SIGN_DIMS}),
           d -> CASE WHEN CAST(embedding[d + 1] AS DOUBLE) > 0.0
                     THEN CAST(1 AS BIGINT) << d ELSE 0 END)) AS BIGINT)
           AS cell,
         CAST(label AS BIGINT) AS label
  FROM embeddings),
cl AS (
  SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS c
  FROM cells GROUP BY 1, 2),
per_cell AS (
  SELECT cell, CAST(SUM(c) AS BIGINT) AS n_vectors,
         CAST(COUNT(*) AS BIGINT) AS n_labels
  FROM cl GROUP BY 1),
maj AS (
  SELECT cell, label, c,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn
  FROM cl)
SELECT CAST(p.cell AS INT) AS cell, p.n_vectors, p.n_labels,
       m.label AS majority_label, m.c AS majority_count,
       {rat_round6_duck("m.c", "p.n_vectors")} AS majority_share_r6
FROM per_cell p JOIN maj m ON p.cell = m.cell AND m.rn = 1
ORDER BY cell
"""


def mm_magic_mismatch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-sniffed container audit: classify every payload by
    its leading magic bytes (GIF8 / %PDF / RIFF / PK zip — the
    ASCII-visible container signatures) and cross-tabulate against the
    DECLARED media type — the ingest QA that catches mislabeled assets
    before a decoder crashes on them. The synthetic fixture payloads
    are plain text (every row sniffs 'other'); the planted pytest twin
    feeds real GIF/PDF/RIFF/ZIP prefixes through each declared type.

    Scale: one map-side prefix classification, one alphabet-bounded
    (media_type × class) agg."""
    assets = _assets_curation(spark, sf_dir)
    sniff = (
        "case when substring(cast(payload as string), 1, 4) = 'GIF8'"
        " then 'gif'"
        " when substring(cast(payload as string), 1, 4) = '%PDF'"
        " then 'pdf'"
        " when substring(cast(payload as string), 1, 4) = 'RIFF'"
        " then 'riff'"
        " when substring(cast(payload as string), 1, 2) = 'PK'"
        " then 'zip' else 'other' end"
    )
    tagged = assets.select(
        "media_type", F.expr(sniff).alias("sniffed_class")
    )
    per_type = tagged.groupBy("media_type").agg(
        F.count("*").cast("long").alias("type_total")
    )
    return (
        tagged.groupBy("media_type", "sniffed_class")
        .agg(F.count("*").cast("long").alias("n_assets"))
        .join(per_type, "media_type")
        .select(
            "media_type",
            "sniffed_class",
            "n_assets",
            F.expr(rat_round6_spark("n_assets", "type_total")).alias(
                "share_r6"
            ),
            (F.col("sniffed_class") != "other").alias("is_container_hit"),
        )
        .orderBy("media_type", "sniffed_class")
    )


ORACLE_MAGIC_MISMATCH = """
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         CASE WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'
              WHEN substr(text, 1, 4) = '%PDF' THEN 'pdf'
              WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
              WHEN substr(text, 1, 2) = 'PK' THEN 'zip'
              ELSE 'other' END AS sniffed_class
  FROM documents),
per_type AS (
  SELECT media_type, CAST(COUNT(*) AS BIGINT) AS type_total
  FROM a GROUP BY 1)
SELECT a.media_type, a.sniffed_class,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       {share} AS share_r6,
       a.sniffed_class != 'other' AS is_container_hit
FROM a JOIN per_type p ON a.media_type = p.media_type
GROUP BY a.media_type, a.sniffed_class, p.type_total
ORDER BY a.media_type, a.sniffed_class
""".format(share=rat_round6_duck("COUNT(*)", "p.type_total"))


# --------------------------------------------------------------------------
# Continuation batch I (r14 backlog): embedding anisotropy, source TF
# cosine matrix, linear-counting sketch error, error-rate-by-load,
# Theil inequality decomposition
# --------------------------------------------------------------------------


def emb_anisotropy_mean_vector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anisotropy of the embedding cloud: ‖mean vector‖ relative to the
    mean vector norm (Ethayarajh 2019's cheap proxy — isotropic clouds
    have μ ≈ 0, anisotropy → 1 means every vector shares a dominant
    common direction, which collapses cosine contrast and poisons both
    ANN recall and semantic dedup thresholds). All lengths are in
    2^-20 grid units: Σ_d S_d² is an exact integer (S_d = Σ qv_d per
    dim, decimal-exact), per-row norms are one sqrt of an exact
    integer 9dp-rounded into the house decimal sum, and the final
    ratios are transcendental-class 6dp rounds (TIES.md Class B).

    Scale: one posexplode to (dim, qv) with a DIM-bounded agg, one
    map-side per-row norm pass — no joins, no corpus-sized state."""
    emb = _emb(spark, sf_dir)
    qv = emb.select(
        "vec_id", F.expr(_EMB_Q_SQL).alias("q")
    )
    per_dim = (
        qv.select(F.posexplode("q").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.sum("v").cast("decimal(38,0)").alias("s"))
    )
    mu = per_dim.agg(
        F.sum(F.col("s") * F.col("s")).cast("decimal(38,0)").alias("ss")
    )
    rows = qv.select(
        F.expr(
            "aggregate(q, cast(0 as bigint), (acc, v) -> acc + v * v)"
        ).alias("norm2")
    ).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(
            F.round(F.expr("sqrt(cast(norm2 as double))"), 9)
            .cast("decimal(25,9)")
        ).alias("norm_sum"),
    )
    return (
        rows.crossJoin(F.broadcast(mu))
        .select(
            "n_vectors",
            F.round(
                F.expr("sqrt(cast(ss as double))") / F.col("n_vectors"), 6
            ).alias("mu_norm_q_r6"),
            F.round(
                F.col("norm_sum").cast("double") / F.col("n_vectors"), 6
            ).alias("mean_norm_q_r6"),
            F.round(
                (F.expr("sqrt(cast(ss as double))") / F.col("n_vectors"))
                / (F.col("norm_sum").cast("double") / F.col("n_vectors")),
                6,
            ).alias("anisotropy_r6"),
        )
    )


ORACLE_ANISOTROPY = """
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
  FROM embeddings),
per_dim AS (
  SELECT d.dim, CAST(SUM(q[d.dim + 1]) AS HUGEINT) AS s
  FROM qv CROSS JOIN (SELECT unnest(range(64)) AS dim) d
  GROUP BY 1),
mu AS (SELECT CAST(SUM(s * s) AS HUGEINT) AS ss FROM per_dim),
rows_ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
         SUM(CAST(ROUND(sqrt(CAST(list_sum(
               list_transform(q, v -> v * v)) AS DOUBLE)), 9)
             AS DECIMAL(25,9))) AS norm_sum
  FROM qv)
SELECT n_vectors,
       ROUND(sqrt(CAST(ss AS DOUBLE)) / n_vectors, 6) AS mu_norm_q_r6,
       ROUND(CAST(norm_sum AS DOUBLE) / n_vectors, 6) AS mean_norm_q_r6,
       ROUND((sqrt(CAST(ss AS DOUBLE)) / n_vectors)
             / (CAST(norm_sum AS DOUBLE) / n_vectors), 6) AS anisotropy_r6
FROM rows_ CROSS JOIN mu
"""


def text_source_tf_cosine_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise term-frequency cosine between sources — the weighted
    complement of text_source_vocab_jaccard (set overlap says WHICH
    words are shared; TF cosine says whether the sources USE them at
    the same rates — the provenance-similarity matrix a mixture
    designer reads before merging or reweighting sources). Dot products
    and squared norms are exact integers over the per-source term
    counts; each cosine is two sqrts and one division of exact inputs
    (TIES.md Class B).

    Scale: term counts shuffle once on (source, word) with map-side
    combine; the pair join is keyed on word over the VOCAB-bounded
    count table (never doc-grain), and output is sources²/2 rows."""
    docs = _docs_par(spark, sf_dir)
    tf = (
        docs.select(
            "source",
            F.explode(
                F.expr("filter(split(text, ' '), t -> length(t) > 0)")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)  # feeds norms AND the pair join
    )
    norms = tf.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    a = tf.select(
        F.col("source").alias("source_a"), "w", F.col("c").alias("ca")
    )
    b = tf.select(
        F.col("source").alias("source_b"), "w", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_shared_terms"),
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"),
        )
    )
    na = norms.select(
        F.col("source").alias("source_a"), F.col("n2").alias("na2")
    )
    nb = norms.select(
        F.col("source").alias("source_b"), F.col("n2").alias("nb2")
    )
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_terms",
            "dot",
            F.round(
                F.col("dot")
                / (
                    F.expr("sqrt(cast(na2 as double))")
                    * F.expr("sqrt(cast(nb2 as double))")
                ),
                6,
            ).alias("cos_r6"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE_SOURCE_TF_COSINE = """
WITH tf AS (
  SELECT source, u.w, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents,
       LATERAL unnest(list_filter(string_split(text, ' '),
                                  t -> length(t) > 0)) AS u(w)
  GROUP BY 1, 2),
norms AS (
  SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tf GROUP BY 1),
dots AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         CAST(SUM(a.c * b.c) AS BIGINT) AS dot
  FROM tf a JOIN tf b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT d.source_a, d.source_b, d.n_shared_terms, d.dot,
       ROUND(d.dot / (sqrt(CAST(na.n2 AS DOUBLE))
                      * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_r6
FROM dots d
JOIN norms na ON d.source_a = na.source
JOIN norms nb ON d.source_b = nb.source
ORDER BY d.source_a, d.source_b
"""


LC_M = 4096  # linear-counting bitmap width


def sketch_linear_counting_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear counting (Whang et al. 1990) next to the exact answer:
    per event type, hash users into a {LC_M}-bit bitmap and estimate
    distinct users as −m·ln(v/m) (v = empty bits) — the small-range
    regime where LC beats HLL, and the third deterministic sketch
    mirror (after the CMS heavy-hitters and the HLL register table)
    whose error is value-hash checkable. Bits come from the house
    fixed md5 lane, so both engines occupy identical bits.

    Scale: one (type, bit) distinct agg bounded by |types|×{LC_M};
    the estimate is map-side arithmetic on the bounded table."""
    lane = sql_md5_long_spark("cast(user_id as string)")
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.col("user_id"),
        F.expr(f"({lane}) % {LC_M}").alias("bit"),
    )
    per_type = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
        F.countDistinct("bit").cast("long").alias("occupied_bits"),
    )
    est = (
        f"cast(floor(-{LC_M}.0d * ln(cast({LC_M} - occupied_bits as double)"
        f" / {LC_M}.0d) + 0.5d) as bigint)"
    )
    return per_type.select(
        "event_type",
        "n_events",
        "exact_distinct",
        "occupied_bits",
        F.expr(
            f"case when occupied_bits < {LC_M} then {est} end"
        ).alias("est_distinct"),
        F.expr(
            f"case when occupied_bits < {LC_M} then"
            f" abs({est} - exact_distinct) end"
        ).alias("abs_err"),
        F.expr(
            f"case when occupied_bits < {LC_M} then "
            + rat_round6_spark(
                f"abs({est} - exact_distinct)", "exact_distinct"
            )
            + " end"
        ).alias("rel_err_r6"),
    ).orderBy("event_type")


def _oracle_linear_counting() -> str:
    lane = sql_md5_long_duck("CAST(user_id AS VARCHAR)")
    est = (
        f"CAST(FLOOR(-{LC_M}.0 * ln(CAST({LC_M} - occupied_bits AS DOUBLE)"
        f" / {LC_M}.0) + 0.5) AS BIGINT)"
    )
    return f"""
WITH ev AS (
  SELECT event_type, user_id, ({lane}) % {LC_M} AS bit FROM events),
per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
         CAST(COUNT(DISTINCT bit) AS BIGINT) AS occupied_bits
  FROM ev GROUP BY 1)
SELECT event_type, n_events, exact_distinct, occupied_bits,
       CASE WHEN occupied_bits < {LC_M} THEN {est} END AS est_distinct,
       CASE WHEN occupied_bits < {LC_M} THEN
         abs({est} - exact_distinct) END AS abs_err,
       CASE WHEN occupied_bits < {LC_M} THEN
         {rat_round6_duck(f"abs({est} - exact_distinct)", "exact_distinct")}
       END AS rel_err_r6
FROM per_type ORDER BY event_type
"""


ORACLE_LINEAR_COUNTING = _oracle_linear_counting()


def ev_error_rate_by_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does reliability degrade under load? Hours are ranked into load
    deciles by event volume (type-1 ranks, hour id as the
    deterministic tiebreak) and each decile reports its error share —
    the capacity-planning correlation ("errors concentrate in the top
    decile" is the pager-threshold fact) that the hourly views don't
    aggregate.

    Scale: one hour-grain agg (calendar-bounded: ~720 rows/month), one
    global rank window JUSTIFIED by that bound, one 10-row rollup.
    The decile rollup lives in ``assemble_error_rate_by_load`` —
    shared with ``streaming.jobs.run_error_rate_by_load_stream``
    (hour-grain complete-mode stream; stream == batch pytest-pinned),
    so the oracle gating this form transitively gates the stream."""
    return assemble_error_rate_by_load(
        error_rate_by_load_grain(_events(spark, sf_dir))
    )


def error_rate_by_load_grain(events: DataFrame) -> DataFrame:
    """The (hr, n_events, n_errors) hour grain, shared by the batch op
    and streaming/jobs.run_error_rate_by_load_stream."""
    ev = events.select(
        F.expr(f"({_US}) div 3600000000").alias("hr"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    return ev.groupBy("hr").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("is_err").cast("long").alias("n_errors"),
    )


def assemble_error_rate_by_load(hours: DataFrame) -> DataFrame:
    """Decile rollup over the (hr, n_events, n_errors) HOUR-GRAIN frame
    — the shared contract between the batch op and its streaming twin
    (the run_chunk_cdc_stream two-grain assembly rule: the stream holds
    only the bounded hour grain; everything below runs on ≤ feed-hours
    rows)."""
    wr = W.orderBy("n_events", "hr")
    ranked = hours.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n_hours", F.count("*").over(W.partitionBy())
    )
    return (
        ranked.withColumn(
            "load_decile",
            F.expr("((rn - 1) * 10) div n_hours").cast("int"),
        )
        .groupBy("load_decile")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.min("n_events").cast("long").alias("min_hourly_events"),
            F.max("n_events").cast("long").alias("max_hourly_events"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_errors").cast("long").alias("n_errors"),
        )
        .select(
            "load_decile",
            "n_hours",
            "min_hourly_events",
            "max_hourly_events",
            "n_events",
            "n_errors",
            F.expr(rat_round6_spark("n_errors", "n_events")).alias(
                "error_share_r6"
            ),
        )
        .orderBy("load_decile")
    )


ORACLE_ERROR_RATE_BY_LOAD = f"""
WITH hours AS (
  SELECT ({_US_DUCK}) // 3600000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_events, hr) AS rn,
         COUNT(*) OVER () AS n_hours
  FROM hours),
dec AS (
  SELECT CAST(((rn - 1) * 10) // n_hours AS INT) AS load_decile,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(MIN(n_events) AS BIGINT) AS min_hourly_events,
         CAST(MAX(n_events) AS BIGINT) AS max_hourly_events,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         CAST(SUM(n_errors) AS BIGINT) AS n_errors
  FROM ranked GROUP BY 1)
SELECT load_decile, n_hours, min_hourly_events, max_hourly_events,
       n_events, n_errors,
       {rat_round6_duck("n_errors", "n_events")} AS error_share_r6
FROM dec ORDER BY load_decile
"""


def stats_theil_index_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil T inequality of positive customer balances, decomposed by
    nation — the DECOMPOSABLE inequality index (agg_gini_by_nation's
    complement: Gini doesn't split into within + between, Theil does,
    which is why distribution audits over grouped data use it). Per
    nation: within-group T_g = (Σ x·ln x)/X_g − ln(X_g/N_g) and the
    between-group term (X_g/X)·ln((X_g·N)/(X·N_g)); the decomposition
    identity T_total = Σ share·T_g + Σ between is pinned in pytest.
    Non-positive balances are excluded (ln undefined) and counted.

    Determinism: cents are exact; each x·ln x is the 9dp c·ln c
    decimal-sum construct; the readouts are Class B transcendental
    rounds of exact-integer inputs.

    Scale: one shuffle on nationkey (25 groups), everything after the
    first agg is nation-bounded."""
    cust = catalog.load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").alias("x"),
    )
    nat = catalog.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    per_nat = (
        cust.groupBy("c_nationkey")
        .agg(
            F.sum((F.col("x") > 0).cast("long")).cast("long").alias("n"),
            F.sum((F.col("x") <= 0).cast("long")).cast("long")
            .alias("n_excluded"),
            F.sum(F.when(F.col("x") > 0, F.col("x"))).cast("long")
            .alias("xs"),
            F.sum(
                F.when(
                    F.col("x") > 0,
                    F.round(F.col("x") * F.log("x"), 9),
                ).cast("decimal(25,9)")
            ).alias("sxlx"),
        )
        .join(F.broadcast(nat), "c_nationkey")
    )
    tot = per_nat.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("xs").cast("long").alias("xt"),
    )
    return (
        per_nat.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("n").alias("n_customers"),
            "n_excluded",
            F.col("xs").alias("cents_sum"),
            F.expr(rat_round6_spark("xs", "xt")).alias("value_share_r6"),
            F.round(
                F.col("sxlx").cast("double") / F.col("xs")
                - F.expr("ln(cast(xs as double) / cast(n as double))"),
                6,
            ).alias("theil_within_r6"),
            F.round(
                (F.col("xs") / F.col("xt").cast("double"))
                * F.expr(
                    "ln((cast(xs as double) * cast(nt as double))"
                    " / (cast(xt as double) * cast(n as double)))"
                ),
                6,
            ).alias("theil_between_term_r6"),
        )
        .orderBy("nation")
    )


ORACLE_THEIL_BY_NATION = """
WITH cust AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x
  FROM customer),
per_nat AS (
  SELECT c_nationkey,
         CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN x <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_excluded,
         CAST(SUM(CASE WHEN x > 0 THEN x END) AS BIGINT) AS xs,
         SUM(CASE WHEN x > 0 THEN
               CAST(ROUND(x * ln(x), 9) AS DECIMAL(25,9)) END) AS sxlx
  FROM cust GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(xs) AS BIGINT) AS xt
  FROM per_nat)
SELECT nt2.n_name AS nation, p.n AS n_customers, p.n_excluded,
       p.xs AS cents_sum,
       {share} AS value_share_r6,
       ROUND(CAST(p.sxlx AS DOUBLE) / p.xs
             - ln(CAST(p.xs AS DOUBLE) / CAST(p.n AS DOUBLE)), 6)
         AS theil_within_r6,
       ROUND((p.xs / CAST(t.xt AS DOUBLE))
             * ln((CAST(p.xs AS DOUBLE) * CAST(t.nt AS DOUBLE))
                  / (CAST(t.xt AS DOUBLE) * CAST(p.n AS DOUBLE))), 6)
         AS theil_between_term_r6
FROM per_nat p
JOIN nation nt2 ON p.c_nationkey = nt2.n_nationkey
CROSS JOIN tot t
ORDER BY nation
""".format(share=rat_round6_duck("p.xs", "t.xt"))


# --------------------------------------------------------------------------
# Continuation batch J (r14 backlog): type-pair hourly correlation, Gumbel
# daily-max fit, CDC boundary stability, token budget by quality
# --------------------------------------------------------------------------


def ev_type_hourly_corr_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson correlation between the HOURLY VOLUMES of every event-
    type pair — "do errors rise with clicks?" is this table's first
    row in any ops review; a corr ≈ 1 pair shares a driver (load), a
    negative pair cannibalizes. Exact integer moments over the dense
    (hour × type) grid (absent hours count as 0 on both engines — the
    dense pivot is what makes the answer well-defined); the readout is
    one Class B round of exact inputs.

    Scale: one (hour, type) agg (calendar × alphabet bounded), a dense
    sequence-generated hour spine, then a |types|²-bounded pair join —
    never event-grain after the first agg."""
    ev = _events(spark, sf_dir).select(
        F.expr(f"({_US}) div 3600000000").alias("hr"), "event_type"
    )
    counts = ev.groupBy("hr", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    span = ev.agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    hours = span.select(
        F.explode(F.expr("sequence(h0, h1)")).alias("hr")
    )
    types = counts.select("event_type").distinct()
    dense = (
        hours.crossJoin(F.broadcast(types))
        .join(counts, ["hr", "event_type"], "left")
        .select(
            "hr",
            "event_type",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    a = dense.select(
        "hr", F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    b = dense.select(
        "hr", F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "hr")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.sum("ca").cast("long").alias("sa"),
            F.sum("cb").cast("long").alias("sb"),
            F.sum(F.col("ca") * F.col("ca")).cast("long").alias("saa"),
            F.sum(F.col("cb") * F.col("cb")).cast("long").alias("sbb"),
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sab"),
        )
    )
    num = "(n_hours * sab - sa * sb)"
    den = (
        "sqrt(cast(n_hours * saa - sa * sa as double))"
        " * sqrt(cast(n_hours * sbb - sb * sb as double))"
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_hours",
        F.expr(
            f"case when n_hours * saa > sa * sa"
            f" and n_hours * sbb > sb * sb then"
            f" round(cast({num} as double) / ({den}), 6) end"
        ).alias("pearson_r6"),
    ).orderBy("type_a", "type_b")


ORACLE_TYPE_HOURLY_CORR = f"""
WITH ev AS (
  SELECT ({_US_DUCK}) // 3600000000 AS hr, event_type FROM events),
counts AS (
  SELECT hr, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
span AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM ev),
hours AS (
  SELECT u.hr FROM span, LATERAL unnest(generate_series(h0, h1)) AS u(hr)),
types AS (SELECT DISTINCT event_type FROM counts),
dense AS (
  SELECT h.hr, t.event_type,
         CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM hours h CROSS JOIN types t
  LEFT JOIN counts c ON h.hr = c.hr AND t.event_type = c.event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(a.c) AS BIGINT) AS sa,
         CAST(SUM(b.c) AS BIGINT) AS sb,
         CAST(SUM(a.c * a.c) AS BIGINT) AS saa,
         CAST(SUM(b.c * b.c) AS BIGINT) AS sbb,
         CAST(SUM(a.c * b.c) AS BIGINT) AS sab
  FROM dense a JOIN dense b
    ON a.hr = b.hr AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_hours,
       CASE WHEN n_hours * saa > sa * sa AND n_hours * sbb > sb * sb THEN
         ROUND(CAST(n_hours * sab - sa * sb AS DOUBLE)
               / (sqrt(CAST(n_hours * saa - sa * sa AS DOUBLE))
                  * sqrt(CAST(n_hours * sbb - sb * sb AS DOUBLE))), 6)
       END AS pearson_r6
FROM pairs ORDER BY type_a, type_b
"""


# Euler–Mascheroni constant and pi, frozen to the double literals both
# engines parse identically (method-of-moments Gumbel fit).
EULER_GAMMA = "0.5772156649015329"
SQRT6_OVER_PI = "0.7796968012336761"


def stats_evt_gumbel_daily_max(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Extreme-value sizing per event type: fit a Gumbel distribution
    to the DAILY MAXIMUM spend cents by method of moments (scale β =
    s·√6/π, location μ = m − γ·β) and read out the 30-day return level
    μ − β·ln(−ln(1 − 1/30)) — "the biggest single event you should
    expect in a month", the capacity number that p99 quantiles
    understate. Moments are exact integers (Σx, Σx² as DECIMAL) over
    the calendar-bounded daily-max table; the fit is a fixed chain of
    IEEE ops on exact inputs (TIES.md Class B).

    Scale: one (type, day) max agg, then a days-bounded rollup — the
    fit never touches event grain."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(f"({_US}) div 86400000000").alias("day"),
        F.expr(_CENTS).alias("cents"),
    )
    dmax = ev.groupBy("event_type", "day").agg(
        F.max("cents").cast("long").alias("mx")
    )
    agg = dmax.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("mx").cast("long").alias("s"),
        F.sum((F.col("mx") * F.col("mx")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("s2"),
        F.max("mx").cast("long").alias("observed_max"),
    )
    mean_d = "(cast(s as double) / cast(n_days as double))"
    var_d = (
        "(cast(cast(n_days as decimal(38,0)) * s2"
        " - cast(s as decimal(38,0)) * cast(s as decimal(38,0))"
        " as double) / (cast(n_days as double) * cast(n_days as double)))"
    )
    beta = f"(sqrt({var_d}) * {SQRT6_OVER_PI})"
    mu = f"({mean_d} - {EULER_GAMMA} * {beta})"
    rl30 = f"({mu} - {beta} * ln(-ln(1.0d - 1.0d / 30.0d)))"
    return agg.select(
        "event_type",
        "n_days",
        "observed_max",
        F.expr(
            f"case when n_days >= 2 then round({mu}, 6) end"
        ).alias("gumbel_loc_r6"),
        F.expr(
            f"case when n_days >= 2 then round({beta}, 6) end"
        ).alias("gumbel_scale_r6"),
        F.expr(
            f"case when n_days >= 2 then round({rl30}, 6) end"
        ).alias("return_level_30d_r6"),
    ).orderBy("event_type")


def _oracle_gumbel() -> str:
    mean_d = "(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))"
    var_d = (
        "(CAST(CAST(n_days AS HUGEINT) * s2"
        " - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)"
        " AS DOUBLE) / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)))"
    )
    beta = f"(sqrt({var_d}) * {SQRT6_OVER_PI})"
    mu = f"({mean_d} - {EULER_GAMMA} * {beta})"
    rl30 = f"({mu} - {beta} * ln(-ln(1.0 - 1.0 / 30.0)))"
    return f"""
WITH ev AS (
  SELECT event_type, ({_US_DUCK}) // 86400000000 AS day,
         {_CENTS_DUCK} AS cents
  FROM events),
dmax AS (
  SELECT event_type, day, CAST(MAX(cents) AS BIGINT) AS mx
  FROM ev GROUP BY 1, 2),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(mx) AS BIGINT) AS s,
         CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS s2,
         CAST(MAX(mx) AS BIGINT) AS observed_max
  FROM dmax GROUP BY 1)
SELECT event_type, n_days, observed_max,
       CASE WHEN n_days >= 2 THEN ROUND({mu}, 6) END AS gumbel_loc_r6,
       CASE WHEN n_days >= 2 THEN ROUND({beta}, 6) END AS gumbel_scale_r6,
       CASE WHEN n_days >= 2 THEN ROUND({rl30}, 6) END
         AS return_level_30d_r6
FROM agg ORDER BY event_type
"""


ORACLE_GUMBEL_DAILY_MAX = _oracle_gumbel()


def mm_chunk_boundary_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The certificate CDC exists to earn: prepend ONE byte to every
    payload (the worst-case early insertion that shifts every aligned
    offset) and measure how many distinct chunk hashes survive. CDC
    boundaries are content-defined, so everything after the first
    boundary re-synchronizes (high survival); a 64-byte ALIGNED chunker
    would lose essentially everything. Reported per media type:
    original/shifted distinct chunks, surviving hashes, survival
    share — the number that justifies mm_chunk_cdc_profile over
    mm_chunk_dedup_cross for mutating feeds.

    Scale: two cdc_chunks passes (same corpus-bytes/CDC_MOD explode
    bound), one distinct-hash set join bounded by distinct chunks."""
    assets = _assets_curation(spark, sf_dir)
    shifted = assets.select(
        "doc_id",
        "media_type",
        F.expr("concat(X'41', payload)").alias("payload"),
    )
    orig = (
        cdc_chunks(assets)
        .select("media_type", "chunk_hash")
        .distinct()
    )
    shif = (
        cdc_chunks(shifted)
        .select("media_type", "chunk_hash")
        .distinct()
    )
    o = orig.groupBy("media_type").agg(
        F.count("*").cast("long").alias("orig_chunks")
    )
    s = shif.groupBy("media_type").agg(
        F.count("*").cast("long").alias("shifted_chunks")
    )
    surv = (
        orig.join(shif, ["media_type", "chunk_hash"])
        .groupBy("media_type")
        .agg(F.count("*").cast("long").alias("surviving_chunks"))
    )
    return (
        o.join(s, "media_type")
        .join(surv, "media_type", "left")
        .select(
            "media_type",
            "orig_chunks",
            "shifted_chunks",
            F.coalesce("surviving_chunks", F.lit(0)).cast("long")
            .alias("surviving_chunks"),
            F.expr(
                "case when orig_chunks > 0 then "
                + rat_round6_spark(
                    "coalesce(surviving_chunks, 0)", "orig_chunks"
                )
                + " end"
            ).alias("survival_share_r6"),
        )
        .orderBy("media_type")
    )


ORACLE_CHUNK_BOUNDARY_STABILITY = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         encode(text) AS payload
  FROM documents),
both_ AS (
  SELECT doc_id, media_type, upper(hex(payload)) AS hx,
         octet_length(payload) AS n, 0 AS shifted
  FROM base WHERE octet_length(payload) >= 1
  UNION ALL
  SELECT doc_id, media_type, '41' || upper(hex(payload)) AS hx,
         octet_length(payload) + 1 AS n, 1 AS shifted
  FROM base),
b AS (
  SELECT *, list_transform(generate_series(1, n),
           i -> CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS bs
  FROM both_),
c AS (
  SELECT doc_id, media_type, shifted, hx, n,
         list_concat(list_concat([0],
           CASE WHEN n >= 2 THEN
             list_filter(generate_series(1, n - 1),
               i -> (bs[i] * 31 + bs[i + 1]) % {CDC_MOD} = 0)
           ELSE [] END), [n]) AS bounds
  FROM b),
ch AS (
  SELECT DISTINCT media_type, shifted,
         md5(substr(hx, 2 * bounds[i] + 1,
                    2 * (bounds[i + 1] - bounds[i]))) AS chunk_hash
  FROM c, LATERAL unnest(generate_series(1, len(bounds) - 1)) AS u(i)),
o AS (SELECT media_type, CAST(COUNT(*) AS BIGINT) AS orig_chunks
      FROM ch WHERE shifted = 0 GROUP BY 1),
s AS (SELECT media_type, CAST(COUNT(*) AS BIGINT) AS shifted_chunks
      FROM ch WHERE shifted = 1 GROUP BY 1),
surv AS (
  SELECT a.media_type, CAST(COUNT(*) AS BIGINT) AS surviving_chunks
  FROM (SELECT media_type, chunk_hash FROM ch WHERE shifted = 0) a
  JOIN (SELECT media_type, chunk_hash FROM ch WHERE shifted = 1) x
    ON a.media_type = x.media_type AND a.chunk_hash = x.chunk_hash
  GROUP BY 1)
SELECT o.media_type, o.orig_chunks, s.shifted_chunks,
       COALESCE(surv.surviving_chunks, 0) AS surviving_chunks,
       CASE WHEN o.orig_chunks > 0 THEN
         {rat_round6_duck("COALESCE(surv.surviving_chunks, 0)",
                          "o.orig_chunks")} END AS survival_share_r6
FROM o JOIN s ON o.media_type = s.media_type
LEFT JOIN surv ON o.media_type = surv.media_type
ORDER BY o.media_type
"""


def corpus_token_budget_by_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation knob table: for each composite-quality threshold
    ("keep only docs scoring ≥ s"), how many documents and whitespace
    tokens survive, cumulatively from the top score down — the exact
    trade-off curve a data lead reads to pick the quality bar that
    still fills the token budget. Reuses the five
    text_composite_quality_score gates verbatim (one scoring
    definition in the engine, two readouts).

    Scale: the same single map stage as the score op, a 6-band
    rollup, and a bands-bounded descending cumsum window."""
    docs = _docs_par(spark, sf_dir)
    stop_list = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    feats = docs.select(
        F.expr("filter(split(text, ' '), t -> length(t) > 0)").alias(
            "toks"
        ),
    ).select(
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_distinct"),
        F.expr(
            "aggregate(toks, cast(0 as bigint),"
            " (acc, t) -> acc + length(t))"
        ).alias("sum_len"),
        F.expr(f"size(filter(toks, t -> t in ({stop_list})))").alias(
            "n_stop"
        ),
        F.expr(
            "coalesce(array_max(transform(toks, t -> length(t))), 0)"
        ).alias("max_len"),
    )
    score = F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
        20 * (
            ((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000))
            .cast("int")
            + (2 * F.col("n_distinct") >= F.col("n_tokens")).cast("int")
            + (100 * F.col("n_stop") >= 2 * F.col("n_tokens")).cast("int")
            + (
                (3 * F.col("n_tokens") <= F.col("sum_len"))
                & (F.col("sum_len") <= 12 * F.col("n_tokens"))
            ).cast("int")
            + (F.col("max_len") <= 20).cast("int")
        )
    )
    bands = (
        feats.select(
            score.cast("int").alias("score"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
        .groupBy("score")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    w_desc = (
        W.orderBy(F.desc("score"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = bands.agg(F.sum("n_tokens").cast("long").alias("tt"))
    return (
        bands.withColumn(
            "cum_docs", F.sum("n_docs").over(w_desc).cast("long")
        )
        .withColumn(
            "cum_tokens", F.sum("n_tokens").over(w_desc).cast("long")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("score").alias("min_score"),
            "n_docs",
            "n_tokens",
            "cum_docs",
            "cum_tokens",
            F.expr(rat_round6_spark("cum_tokens", "tt")).alias(
                "token_share_kept_r6"
            ),
        )
        .orderBy(F.desc("min_score"))
    )


ORACLE_TOKEN_BUDGET = f"""
WITH feats AS (
  SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
  FROM documents),
f2 AS (
  SELECT len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
              AS BIGINT) AS sum_len,
         len(list_filter(toks,
             t -> list_contains(
                 [{", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)}], t)))
           AS n_stop,
         coalesce(list_max(list_transform(toks, t -> length(t))), 0)
           AS max_len
  FROM feats),
scored AS (
  SELECT CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE 20 * (
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
                 THEN 1 ELSE 0 END)
           + (CASE WHEN 2 * n_distinct >= n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN 100 * n_stop >= 2 * n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN 3 * n_tokens <= sum_len
                    AND sum_len <= 12 * n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN max_len <= 20 THEN 1 ELSE 0 END)) END AS INT)
           AS score,
         CAST(n_tokens AS BIGINT) AS n_tokens
  FROM f2),
bands AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM scored GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM bands),
cum AS (
  SELECT *,
         CAST(SUM(n_docs) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_docs,
         CAST(SUM(n_tokens) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_tokens
  FROM bands)
SELECT score AS min_score, n_docs, n_tokens, cum_docs, cum_tokens,
       {rat_round6_duck("cum_tokens", "tt")} AS token_share_kept_r6
FROM cum CROSS JOIN tot
ORDER BY min_score DESC
"""


# --------------------------------------------------------------------------
# Continuation batch K (r14 backlog): language rebalance plan, monthly HHI
# trend
# --------------------------------------------------------------------------


def corpus_lang_rebalance_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The language-balancing plan table: per language, current doc and
    token mass vs a UNIFORM token target, and the exact up/down-sample
    factor that would land it there — the multilingual-mixture knob
    every LLM corpus applies after curation (the language-grain sibling
    of corpus_temperature_mix's source-grain reweighting). Targets are
    floor-integer token budgets (tokens_total div n_langs) so the plan
    is exact and the factors are house rationals.

    Scale: one map-side token count, one language-alphabet rollup —
    nothing after the first agg exceeds |langs| rows."""
    docs = _docs_par(spark, sf_dir)
    per_lang = (
        docs.select(
            "lang",
            F.expr(
                "size(filter(split(text, ' '), t -> length(t) > 0))"
            ).cast("long").alias("n_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_tokens").cast("long").alias("tt"),
        F.count("*").cast("long").alias("n_langs"),
    )
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.expr(rat_round6_spark("n_tokens", "tt")).alias(
                "token_share_r6"
            ),
            F.expr("tt div n_langs").cast("long").alias("target_tokens"),
            F.expr(
                "case when n_tokens > 0 then "
                + rat_round6_spark("tt div n_langs", "n_tokens")
                + " end"
            ).alias("sample_factor_r6"),
            F.expr(
                "case when n_tokens * n_langs > tt then 'downsample'"
                " when n_tokens * n_langs < tt then 'upsample'"
                " else 'keep' end"
            ).alias("action"),
        )
        .orderBy("lang")
    )


ORACLE_LANG_REBALANCE = f"""
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '),
                                  t -> length(t) > 0))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
         CAST(COUNT(*) AS BIGINT) AS n_langs
  FROM per_lang)
SELECT lang, n_docs, n_tokens,
       {rat_round6_duck("n_tokens", "tt")} AS token_share_r6,
       CAST(tt // n_langs AS BIGINT) AS target_tokens,
       CASE WHEN n_tokens > 0 THEN
         {rat_round6_duck("tt // n_langs", "n_tokens")} END
         AS sample_factor_r6,
       CASE WHEN n_tokens * n_langs > tt THEN 'downsample'
            WHEN n_tokens * n_langs < tt THEN 'upsample'
            ELSE 'keep' END AS action
FROM per_lang CROSS JOIN tot
ORDER BY lang
"""


def orders_hhi_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly Herfindahl–Hirschman concentration of order revenue over
    customers — the TREND view orders_hhi_concentration's single number
    hides (a rising HHI says the book is consolidating onto fewer
    customers; 1/HHI is the effective customer count). HHI = Σ x_i²/X²
    over exact customer-month cent sums (DECIMAL numerators), read out
    as one Class B round; eff_customers = 1/HHI.

    Scale: one (month, customer) agg (shuffles on the composite key),
    one month-bounded rollup — the squares never leave the agg."""
    orders = catalog.load(spark, sf_dir, "orders").select(
        F.expr(
            "cast(date_trunc('month', o_orderdate) as date)"
        ).alias("month"),
        "o_custkey",
        F.expr(
            "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
        ).alias("cents"),
    )
    per_cust = orders.groupBy("month", "o_custkey").agg(
        F.sum("cents").cast("long").alias("x")
    )
    per_month = per_cust.groupBy("month").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("x").cast("long").alias("cents_total"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sx2"),
    )
    hhi = (
        "(cast(sx2 as double) / (cast(cents_total as double)"
        " * cast(cents_total as double)))"
    )
    return per_month.select(
        "month",
        "n_customers",
        "cents_total",
        F.expr(
            f"case when cents_total > 0 then round({hhi}, 6) end"
        ).alias("hhi_r6"),
        F.expr(
            f"case when cents_total > 0 then round(1.0d / {hhi}, 6) end"
        ).alias("eff_customers_r6"),
    ).orderBy("month")


ORACLE_HHI_MONTHLY = """
WITH orders_m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
per_cust AS (
  SELECT month, o_custkey, CAST(SUM(cents) AS BIGINT) AS x
  FROM orders_m GROUP BY 1, 2),
per_month AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(x) AS BIGINT) AS cents_total,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2
  FROM per_cust GROUP BY 1)
SELECT month, n_customers, cents_total,
       CASE WHEN cents_total > 0 THEN
         ROUND(CAST(sx2 AS DOUBLE) / (CAST(cents_total AS DOUBLE)
               * CAST(cents_total AS DOUBLE)), 6) END AS hhi_r6,
       CASE WHEN cents_total > 0 THEN
         ROUND(1.0 / (CAST(sx2 AS DOUBLE) / (CAST(cents_total AS DOUBLE)
               * CAST(cents_total AS DOUBLE))), 6) END
         AS eff_customers_r6
FROM per_month ORDER BY month
"""


# --------------------------------------------------------------------------
# Continuation batch L (r14 backlog): ledger reconciliation, attribution
# window sweep, dup x quality cross-tab, user-activity Zipf
# --------------------------------------------------------------------------

RECON_WINDOW_US = 7 * 86_400_000_000  # order must land within 7 days


def ev_order_event_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-ledger vs order-ledger reconciliation: per day, how many
    'purchase' EVENTS are backed by an ORDER of the same customer
    within {RECON_WINDOW_US//86_400_000_000} days after the event —
    the two-system integrity check every commerce pipeline runs
    nightly (an unmatched purchase event is lost revenue attribution
    or a broken feed). On these fixtures the feeds are ~23 years apart
    so every event is legitimately unmatched (asserted in pytest); the
    planted twin exercises the matched path.

    Scale: one forward as-of (shuffle per side on the key), one
    map-side window mask, one calendar-bounded daily rollup."""
    from .temporal import asof_join_forward

    ev = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    orders = (
        catalog.load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    probe = ev.select("user_id", "ts", "event_id")
    build = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("bt"),
        F.col("o_orderkey").alias("nx_orderkey"),
        F.col("o_orderdate").alias("nx_orderdate"),
    )
    joined = asof_join_forward(
        probe, build, "user_id", "ts", "bt",
        ["nx_orderkey", "nx_orderdate"],
    )
    lead_sql = (
        "(unix_micros(cast(nx_orderdate as timestamp))"
        " - unix_micros(cast(ts as timestamp)))"
    )
    matched = (
        F.col("nx_orderdate").isNotNull()
        & (F.expr(lead_sql) <= F.lit(RECON_WINDOW_US))
    )
    return (
        joined.select(
            F.expr(f"({_US}) div 86400000000").alias("day"),
            matched.cast("long").alias("m"),
        )
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("m").cast("long").alias("n_matched"),
        )
        .select(
            F.col("day").cast("long").alias("day"),
            "n_purchases",
            "n_matched",
            (F.col("n_purchases") - F.col("n_matched")).cast("long")
            .alias("n_unmatched"),
            F.expr(rat_round6_spark("n_matched", "n_purchases")).alias(
                "matched_share_r6"
            ),
        )
        .orderBy("day")
    )


ORACLE_ORDER_EVENT_RECON = f"""
WITH j AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS nx_orderdate
  FROM (SELECT * FROM events WHERE event_type = 'purchase') e
  ASOF LEFT JOIN
       (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2) o
    ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate),
d AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CASE WHEN nx_orderdate IS NOT NULL
               AND epoch_us(nx_orderdate) - epoch_us(ts)
                   <= {RECON_WINDOW_US}
              THEN 1 ELSE 0 END AS m
  FROM j),
g AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_purchases,
         CAST(SUM(m) AS BIGINT) AS n_matched
  FROM d GROUP BY 1)
SELECT CAST(day AS BIGINT) AS day, n_purchases, n_matched,
       CAST(n_purchases - n_matched AS BIGINT) AS n_unmatched,
       {rat_round6_duck("n_matched", "n_purchases")} AS matched_share_r6
FROM g ORDER BY day
"""


ATTR_SWEEP_US = (
    ("1h", 3_600_000_000),
    ("6h", 21_600_000_000),
    ("24h", 86_400_000_000),
    ("7d", 604_800_000_000),
)


def ev_attribution_window_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-window sensitivity: what share of purchases has a
    prior click by the same user within 1h / 6h / 24h / 7d — the table
    that settles "how long should the attribution window be" with data
    instead of convention (shares that plateau early say long windows
    only add noise). ONE backward as-of computes the age of the most
    recent click per purchase; the sweep is four map-side masks over
    the same age column, unpivoted to one row per window.

    Scale: one union-tag as-of pass (shuffle per side on user_id), a
    single global agg, a 4-row explode."""
    from .temporal import asof_join_backward

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("bt"),
        F.expr(_US).alias("click_us"),
    )
    joined = asof_join_backward(
        purchases, clicks, "user_id", "ts", "bt", ["click_us"]
    )
    age = F.expr(f"({_US}) - click_us")
    agg = joined.select(
        F.col("click_us").isNotNull().cast("long").alias("has_click"),
        *[
            (F.col("click_us").isNotNull() & (age <= F.lit(us)))
            .cast("long").alias(f"w{i}")
            for i, (_, us) in enumerate(ATTR_SWEEP_US)
        ],
    ).agg(
        F.count("*").cast("long").alias("n_purchases"),
        *[
            F.sum(f"w{i}").cast("long").alias(f"a{i}")
            for i in range(len(ATTR_SWEEP_US))
        ],
    )
    stack = ", ".join(
        f"'{label}', cast({us} as bigint), a{i}"
        for i, (label, us) in enumerate(ATTR_SWEEP_US)
    )
    return (
        agg.select(
            "n_purchases",
            F.expr(
                f"stack({len(ATTR_SWEEP_US)}, {stack})"
                " as (window_label, window_us, n_attributed)"
            ),
        )
        .select(
            "window_label",
            "window_us",
            "n_purchases",
            F.col("n_attributed").cast("long").alias("n_attributed"),
            F.expr(rat_round6_spark("n_attributed", "n_purchases")).alias(
                "attributed_share_r6"
            ),
        )
        .orderBy("window_us")
    )


def _oracle_attr_sweep() -> str:
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN age IS NOT NULL AND age <= {us} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS a{i}"
        for i, (_, us) in enumerate(ATTR_SWEEP_US)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{label}' AS window_label,"
        f" CAST({us} AS BIGINT) AS window_us,"
        f" n_purchases, a{i} AS n_attributed,"
        f" {rat_round6_duck(f'a{i}', 'n_purchases')}"
        f" AS attributed_share_r6 FROM agg"
        for i, (label, us) in enumerate(ATTR_SWEEP_US)
    )
    return f"""
WITH j AS (
  SELECT e.event_id,
         epoch_us(e.ts) - epoch_us(c.bt) AS age
  FROM (SELECT * FROM events WHERE event_type = 'purchase') e
  ASOF LEFT JOIN
       (SELECT user_id, ts AS bt FROM events
        WHERE event_type = 'click') c
    ON e.user_id = c.user_id AND e.ts >= c.bt),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases, {cols} FROM j)
SELECT * FROM ({rows}) ORDER BY window_us
"""


ORACLE_ATTR_SWEEP = _oracle_attr_sweep()


def corpus_dup_quality_crosstab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Are duplicates junk? Cross-tab of exact-dup membership (sha2 of
    text occurs more than once) against the composite-quality band —
    the question that decides whether dedup and quality filtering are
    redundant or complementary on a corpus (if dups concentrate in low
    bands, the quality gate already removes most of them). Exact
    counts + within-band dup share.

    Scale: one sha2 group for dup flags (shuffle on the hash), the
    composite score's single map stage, one 6x2-bounded rollup."""
    docs = _docs_par(spark, sf_dir)
    stop_list = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    feats = docs.select(
        "doc_id",
        F.sha2("text", 256).alias("h"),
        F.expr(
            "filter(split(text, ' '), t -> length(t) > 0)"
        ).alias("toks"),
    ).select(
        "doc_id",
        "h",
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_distinct"),
        F.expr(
            "aggregate(toks, cast(0 as bigint),"
            " (acc, t) -> acc + length(t))"
        ).alias("sum_len"),
        F.expr(f"size(filter(toks, t -> t in ({stop_list})))").alias(
            "n_stop"
        ),
        F.expr(
            "coalesce(array_max(transform(toks, t -> length(t))), 0)"
        ).alias("max_len"),
    )
    score = F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
        20 * (
            ((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000))
            .cast("int")
            + (2 * F.col("n_distinct") >= F.col("n_tokens")).cast("int")
            + (100 * F.col("n_stop") >= 2 * F.col("n_tokens")).cast("int")
            + (
                (3 * F.col("n_tokens") <= F.col("sum_len"))
                & (F.col("sum_len") <= 12 * F.col("n_tokens"))
            ).cast("int")
            + (F.col("max_len") <= 20).cast("int")
        )
    )
    dup = feats.groupBy("h").agg(F.count("*").alias("nh"))
    scored = (
        feats.select("doc_id", "h", score.cast("int").alias("score"),
                     F.col("n_tokens").cast("long").alias("n_tokens"))
        .join(dup, "h")
        .select(
            "score",
            (F.col("nh") > 1).alias("is_dup"),
            "n_tokens",
        )
    )
    per_band = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("band_docs")
    )
    return (
        scored.groupBy("score", "is_dup")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .join(per_band, "score")
        .select(
            "score",
            "is_dup",
            "n_docs",
            "n_tokens",
            F.expr(rat_round6_spark("n_docs", "band_docs")).alias(
                "band_share_r6"
            ),
        )
        .orderBy("score", "is_dup")
    )


ORACLE_DUP_QUALITY_CROSSTAB = f"""
WITH feats AS (
  SELECT doc_id, sha256(text) AS h,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
  FROM documents),
f2 AS (
  SELECT doc_id, h, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
              AS BIGINT) AS sum_len,
         len(list_filter(toks,
             t -> list_contains(
                 [{", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)}], t)))
           AS n_stop,
         coalesce(list_max(list_transform(toks, t -> length(t))), 0)
           AS max_len
  FROM feats),
scored AS (
  SELECT doc_id, h,
         CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE 20 * (
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
                 THEN 1 ELSE 0 END)
           + (CASE WHEN 2 * n_distinct >= n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN 100 * n_stop >= 2 * n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN 3 * n_tokens <= sum_len
                    AND sum_len <= 12 * n_tokens THEN 1 ELSE 0 END)
           + (CASE WHEN max_len <= 20 THEN 1 ELSE 0 END)) END AS INT)
           AS score,
         CAST(n_tokens AS BIGINT) AS n_tokens
  FROM f2),
dup AS (SELECT h, COUNT(*) AS nh FROM feats GROUP BY 1),
tagged AS (
  SELECT s.score, d.nh > 1 AS is_dup, s.n_tokens
  FROM scored s JOIN dup d ON s.h = d.h),
per_band AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS band_docs
  FROM tagged GROUP BY 1)
SELECT t.score, t.is_dup, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       {rat_round6_duck("COUNT(*)", "MAX(p.band_docs)")} AS band_share_r6
FROM tagged t JOIN per_band p ON t.score = p.score
GROUP BY t.score, t.is_dup
ORDER BY t.score, t.is_dup
"""


ZIPF_USER_HEAD = 100  # activity ranks fitted per type


def ev_zipf_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit of USER ACTIVITY per event type: regression slope of
    ln(count) on ln(rank) over the top-{ZIPF_USER_HEAD} most active
    users — organic engagement sits on a heavy-tailed slope, while a
    bot swarm or synthetic load flattens it (every "user" equally
    active) and a single-scraper feed steepens it; the traffic-shape
    sibling of text_zipf_slope's vocabulary fit.

    Scale: one (type, user) agg, a rank window partitioned by type
    over the per-type user table, a head-bounded regr_slope."""
    counts = (
        _events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_USER_HEAD)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users_fitted"),
            F.max("cnt").cast("long").alias("top_user_events"),
            F.round(
                F.expr(
                    "regr_slope(ln(cast(cnt as double)),"
                    " ln(cast(rank as double)))"
                ),
                4,
            ).alias("zipf_slope"),
        )
        .orderBy("event_type")
    )


ORACLE_ZIPF_USER = f"""
WITH counts AS (
  SELECT event_type, user_id, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, user_id) AS rank
  FROM counts)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users_fitted,
       CAST(MAX(cnt) AS BIGINT) AS top_user_events,
       ROUND(regr_slope(ln(CAST(cnt AS DOUBLE)),
                        ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope
FROM ranked WHERE rank <= {ZIPF_USER_HEAD}
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Continuation batch M (r14 backlog): context-window packing sweep, byte
# periodicity probe, weekend-mix z-test, TwoNN intrinsic dimension
# --------------------------------------------------------------------------

PACK_WINDOWS = (1024, 2048, 4096, 8192)


def corpus_pack_efficiency_by_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-length sizing table: for each candidate window (1k/2k/
    4k/8k tokens), how many windows the corpus needs when every doc is
    chunked to the window (Σ ceil(tokens/W)) and what share of window
    capacity is padding waste — the table that picks the training
    sequence length (small windows waste little but fragment long
    docs; the sweep shows the elbow). Exact integers end to end.

    Scale: ONE map-side token count; the sweep is four integer
    expressions over the same column, aggregated once — no explode,
    no per-window pass."""
    docs = _docs_par(spark, sf_dir)
    toks = docs.select(
        F.expr(
            "size(filter(split(text, ' '), t -> length(t) > 0))"
        ).cast("long").alias("tok")
    ).filter(F.col("tok") > 0)
    agg = toks.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        *[
            F.sum(F.expr(f"(tok + {w} - 1) div {w}")).cast("long")
            .alias(f"w{w}")
            for w in PACK_WINDOWS
        ],
    )
    stack = ", ".join(
        f"cast({w} as bigint), w{w}" for w in PACK_WINDOWS
    )
    return (
        agg.select(
            "n_docs",
            "total_tokens",
            F.expr(
                f"stack({len(PACK_WINDOWS)}, {stack})"
                " as (window_tokens, windows_needed)"
            ),
        )
        .select(
            "window_tokens",
            "n_docs",
            "total_tokens",
            F.col("windows_needed").cast("long").alias("windows_needed"),
            F.expr(
                rat_round6_spark(
                    "windows_needed * window_tokens - total_tokens",
                    "windows_needed * window_tokens",
                )
            ).alias("padding_waste_r6"),
        )
        .orderBy("window_tokens")
    )


def _oracle_pack_sweep() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({w} AS BIGINT) AS window_tokens, n_docs,"
        f" total_tokens, w{w} AS windows_needed,"
        + rat_round6_duck(f"w{w} * {w} - total_tokens", f"w{w} * {w}")
        + " AS padding_waste_r6 FROM agg"
        for w in PACK_WINDOWS
    )
    wcols = ", ".join(
        f"CAST(SUM((tok + {w} - 1) // {w}) AS BIGINT) AS w{w}"
        for w in PACK_WINDOWS
    )
    return f"""
WITH toks AS (
  SELECT CAST(len(list_filter(string_split(text, ' '),
                              t -> length(t) > 0)) AS BIGINT) AS tok
  FROM documents),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS total_tokens, {wcols}
  FROM toks WHERE tok > 0)
SELECT * FROM ({rows}) ORDER BY window_tokens
"""


ORACLE_PACK_SWEEP = _oracle_pack_sweep()


PERIOD_LAGS = (2, 4, 8, 16)


def mm_payload_periodicity_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-lag autocorrelation per media type at dyadic lags 2/4/8/16:
    a fixed-record binary container (structs every k bytes) lights up
    exactly at its record stride, while text and compressed streams
    stay flat — the structure probe that byte histograms (order 1) and
    bigrams (order 2, adjacent) cannot see at distance. Pearson over
    exact integer byte moments; one Class B round per (type, lag).

    Scale: per-(doc, lag) moments come from a JVM aggregate() fold over
    the byte array — NO position explode at all; the shuffle carries
    six ints per (doc, lag), and the rollup is |types|×|lags|."""
    assets = _assets_curation(spark, sf_dir)
    withbs = assets.filter(
        F.octet_length("payload") > max(PERIOD_LAGS)
    ).select(
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    ).withColumn(
        "bs",
        F.expr(
            "transform(sequence(1, n), i ->"
            " cast(conv(substring(hx, 2 * i - 1, 2), 16, 10) as bigint))"
        ),
    )
    lagged = withbs.select(
        "media_type",
        "bs",
        "n",
        F.explode(F.array(*[F.lit(lag) for lag in PERIOD_LAGS])).alias(
            "lag"
        ),
    )
    fold = (
        "aggregate(sequence(1, n - lag),"
        " named_struct('np', 0L, 'sx', 0L, 'sy', 0L,"
        " 'sxy', 0L, 'sxx', 0L, 'syy', 0L),"
        " (a, i) -> named_struct("
        "'np', a.np + 1L,"
        " 'sx', a.sx + element_at(bs, i),"
        " 'sy', a.sy + element_at(bs, i + lag),"
        " 'sxy', a.sxy + element_at(bs, i) * element_at(bs, i + lag),"
        " 'sxx', a.sxx + element_at(bs, i) * element_at(bs, i),"
        " 'syy', a.syy + element_at(bs, i + lag)"
        " * element_at(bs, i + lag)))"
    )
    parts = lagged.select(
        "media_type", "lag", F.expr(fold).alias("m")
    )
    agg = parts.groupBy("media_type", "lag").agg(
        F.sum("m.np").cast("long").alias("np"),
        F.sum("m.sx").cast("long").alias("sx"),
        F.sum("m.sy").cast("long").alias("sy"),
        F.sum("m.sxy").cast("decimal(38,0)").alias("sxy"),
        F.sum("m.sxx").cast("decimal(38,0)").alias("sxx"),
        F.sum("m.syy").cast("decimal(38,0)").alias("syy"),
    )
    num = (
        "(cast(np as decimal(38,0)) * sxy"
        " - cast(sx as decimal(38,0)) * cast(sy as decimal(38,0)))"
    )
    denx = (
        "(cast(np as decimal(38,0)) * sxx"
        " - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))"
    )
    deny = (
        "(cast(np as decimal(38,0)) * syy"
        " - cast(sy as decimal(38,0)) * cast(sy as decimal(38,0)))"
    )
    return agg.select(
        "media_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("np").alias("n_pairs"),
        F.expr(
            f"case when {denx} > 0 and {deny} > 0 then"
            f" round(cast({num} as double)"
            f" / (sqrt(cast({denx} as double))"
            f" * sqrt(cast({deny} as double))), 6) end"
        ).alias("autocorr_r6"),
    ).orderBy("media_type", "lag")


def _oracle_periodicity() -> str:
    lag_rows = ", ".join(str(lag) for lag in PERIOD_LAGS)
    return f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > {max(PERIOD_LAGS)}),
b AS (
  SELECT *, list_transform(generate_series(1, n),
           i -> CAST(CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)
                AS BIGINT)) AS bs
  FROM a),
pairs AS (
  SELECT media_type, l.lag, bs[i] AS x, bs[i + l.lag] AS y
  FROM b,
       LATERAL (SELECT unnest([{lag_rows}]) AS lag) l,
       LATERAL unnest(generate_series(1, n - l.lag)) AS u(i)),
agg AS (
  SELECT media_type, lag,
         CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(y * y) AS HUGEINT) AS syy
  FROM pairs GROUP BY 1, 2)
SELECT media_type, CAST(lag AS INT) AS lag, np AS n_pairs,
       CASE WHEN CAST(np AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(np AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
            THEN ROUND(
              CAST(CAST(np AS HUGEINT) * sxy
                   - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              / (sqrt(CAST(CAST(np AS HUGEINT) * sxx
                           - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                 * sqrt(CAST(CAST(np AS HUGEINT) * syy
                             - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
       END AS autocorr_r6
FROM agg ORDER BY media_type, lag
"""


ORACLE_PERIODICITY = _oracle_periodicity()


def stats_weekend_mix_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type: is THIS type's weekend
    share different from the weekend share of all OTHER events? —
    the inference layer on top of ev_weekend_lift's point estimate
    (a lift of 1.3 on ten events means nothing; the z says which
    seasonality reads are real). Pooled-variance z from exact integer
    counts; one Class B round.

    Scale: one map-side weekend tag, one |types|-bounded agg, global
    totals broadcast back."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(f"((({_US}) div 86400000000) + 3) % 7 >= 5")
        .cast("long").alias("wk"),
    )
    per_type = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n1"),
        F.sum("wk").cast("long").alias("x1"),
    )
    tot = per_type.agg(
        F.sum("n1").cast("long").alias("nt"),
        F.sum("x1").cast("long").alias("xt"),
    )
    p1 = "(cast(x1 as double) / cast(n1 as double))"
    p2 = "(cast(xt - x1 as double) / cast(nt - n1 as double))"
    pp = "(cast(xt as double) / cast(nt as double))"
    z = (
        f"(({p1}) - ({p2})) / sqrt({pp} * (1.0d - {pp})"
        f" * (1.0d / n1 + 1.0d / (nt - n1)))"
    )
    return (
        per_type.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n1").alias("n_events"),
            F.col("x1").alias("n_weekend"),
            F.expr(rat_round6_spark("x1", "n1")).alias(
                "weekend_share_r6"
            ),
            F.expr(rat_round6_spark("xt - x1", "nt - n1")).alias(
                "rest_weekend_share_r6"
            ),
            F.expr(
                f"case when n1 > 0 and nt > n1 and xt > 0 and xt < nt"
                f" then round({z}, 6) end"
            ).alias("z_r6"),
        )
        .orderBy("event_type")
    )


ORACLE_WEEKEND_MIX_ZTEST = f"""
WITH ev AS (
  SELECT event_type,
         CASE WHEN ((({_US_DUCK}) // 86400000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS wk
  FROM events),
per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(wk) AS BIGINT) AS x1
  FROM ev GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS nt, CAST(SUM(x1) AS BIGINT) AS xt
  FROM per_type)
SELECT event_type, n1 AS n_events, x1 AS n_weekend,
       {rat_round6_duck("x1", "n1")} AS weekend_share_r6,
       {rat_round6_duck("xt - x1", "nt - n1")} AS rest_weekend_share_r6,
       CASE WHEN n1 > 0 AND nt > n1 AND xt > 0 AND xt < nt THEN
         ROUND(((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                - (CAST(xt - x1 AS DOUBLE) / CAST(nt - n1 AS DOUBLE)))
               / sqrt((CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                      * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                      * (1.0 / n1 + 1.0 / (nt - n1))), 6)
       END AS z_r6
FROM per_type CROSS JOIN tot
ORDER BY event_type
"""


TWONN_PROBES = 256  # probe vectors (vec_id < TWONN_PROBES)


def _grid(m):
    """The canonical 2^-20 grid (_EMB_Q_SQL), exact in float64."""
    return np.trunc(m * 1048576.0)


def emb_intrinsic_dim_twonn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding manifold: ID = n / Σ ln(r2/r1) over the first/second
    nearest-neighbor distances of a fixed probe set — THE number that
    says whether 64 ambient dims hide a 10-dim manifold (IVF/PQ/LSH
    parameters key off intrinsic, not ambient, dimension). Squared
    grid distances make ln(r2/r1) = ln(d2q/d1q)/2 with exact integer
    inputs; each term is 9dp-rounded into the house decimal sum.

    Scale (the r13 VERDICT fix): the probe set (bounded: <=
    {TWONN_PROBES} rows by construction) rides in the house Arrow GEMM
    scorer (:func:`_probe_scan`, the sim_cosine_topk posture); every
    Arrow batch emits only its LOCAL top-2 squared distances per probe
    (:func:`_local_topk`), so the shuffle carries {TWONN_PROBES}·2 rows
    per batch instead of {TWONN_PROBES}·corpus, and the final top-2
    window sorts bounded groups (2·n_batches rows per probe) instead
    of 256 corpus-sized partitions. Multiset two-smallest is
    batch-decomposable, so the readout is bit-identical to the
    all-pairs form. Distances stay EXACT in float64 BLAS: grid values
    < 2^21, so every term of |e|² + |p|² − 2e·p is an integer < 2^47
    and each intermediate stays below 2^53."""
    emb = _emb(spark, sf_dir)

    def kernel(pdf, pids, pq):
        d2 = _sq_dists(_grid(_to_matrix(pdf["embedding"])), pq)
        d2[d2 <= 0.0] = np.inf  # exact duplicates break the ratio
        q, _, s = _local_topk(
            pids, pdf["vec_id"].to_numpy(), d2, 2, descending=False
        )
        return pd.DataFrame({"pid": q, "d2": s.astype(np.int64)})

    cand = _probe_scan(
        emb.select("vec_id", "embedding")
        # the _docs_par insurance rule: the fixture corpus is ONE
        # parquet split, so the GEMM otherwise runs as a single task;
        # at real scale the scan has thousands of splits and this is
        # one bounded shuffle of the raw vectors
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id")),
        emb.filter(F.col("vec_id") < TWONN_PROBES).select(
            "vec_id", "embedding"
        ),
        kernel, "pid long, d2 long", prep=_grid,
    )
    w = W.partitionBy("pid").orderBy("d2")
    top2 = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("pid")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2_"),
        )
    )
    agg = top2.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(
            F.round(
                F.expr(
                    "ln(cast(d2_ as double) / cast(d1 as double)) / 2.0d"
                ),
                9,
            ).cast("decimal(25,9)")
        ).alias("s"),
    )
    return agg.select(
        "n_probes",
        F.round(F.col("s").cast("double"), 6).alias("sum_log_ratio_r6"),
        F.round(
            F.col("n_probes") / F.col("s").cast("double"), 6
        ).alias("intrinsic_dim_r6"),
    )


ORACLE_TWONN = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
  FROM embeddings),
probes AS (
  SELECT vec_id AS pid, q AS pq FROM qv WHERE vec_id < {TWONN_PROBES}),
pairs AS (
  SELECT p.pid, e.vec_id,
         CAST(list_sum(list_transform(range(1, len(e.q) + 1),
           i -> (e.q[i] - p.pq[i]) * (e.q[i] - p.pq[i]))) AS BIGINT) AS d2
  FROM qv e CROSS JOIN probes p
  WHERE e.vec_id != p.pid),
pos AS (SELECT * FROM pairs WHERE d2 > 0),
ranked AS (
  SELECT pid, d2,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, vec_id) AS rn
  FROM pos),
top2 AS (
  SELECT pid,
         MIN(CASE WHEN rn = 1 THEN d2 END) AS d1,
         MIN(CASE WHEN rn = 2 THEN d2 END) AS d2_
  FROM ranked WHERE rn <= 2 GROUP BY 1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         SUM(CAST(ROUND(ln(CAST(d2_ AS DOUBLE) / CAST(d1 AS DOUBLE))
                        / 2.0, 9) AS DECIMAL(25,9))) AS s
  FROM top2)
SELECT n_probes,
       ROUND(CAST(s AS DOUBLE), 6) AS sum_log_ratio_r6,
       ROUND(n_probes / CAST(s AS DOUBLE), 6) AS intrinsic_dim_r6
FROM agg
"""


# --------------------------------------------------------------------------
# Batch N (r14): PVM revenue bridge, jackknife influence, MDE power
# analysis, hour-of-day seasonality strength, sequence pattern match,
# prefix-hash audit, prefix-dim recall, probe hubness, LSH band planner,
# dedup method confusion
# --------------------------------------------------------------------------

PVM_Y1, PVM_Y2 = 1996, 1997


def orders_pvm_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge per brand between two years — the
    FP&A decomposition behind every "why did revenue move" review:
    ΔRev = price effect (P₂−P₁)·Q₂ + volume effect P₁·(Q₂−Q₁) with
    P = rev/qty the average realized unit price. The two effects
    telescope to the exact delta (P₂Q₂ − P₁Q₂ + P₁Q₂ − P₁Q₁), so the
    readout is self-auditing (±1 cent from the half-up cent rounding).
    Everything is integer: gross revenue in cents, unit quantities, and
    the effects as half-up WHOLE CENTS — money does not need 6dp, and
    the cent form keeps the largest intermediate at rev·qty (~1e17 at
    sf0.1; a 6dp rational would ×2e6 that and overflow BIGINT). At
    warehouse scale the intermediate would move to DECIMAL(38,0) — the
    cent semantics are unchanged.

    Scale: one broadcast join to the part dimension for brand, one
    (brand)-keyed agg with conditional year masks — the fact stream
    crosses the wire once; everything after is brand-grain arithmetic."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("year(l_shipdate)").alias("yr"),
        F.expr("cast(floor(l_extendedprice * 100 + 0.5d) as bigint)")
        .alias("cents"),
        F.expr("cast(floor(l_quantity + 0.5d) as bigint)").alias("qty"),
    ).filter(F.col("yr").isin(PVM_Y1, PVM_Y2))
    part = catalog.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    g = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("yr") == PVM_Y1, F.col("cents")).otherwise(0))
            .cast("long").alias("rev1"),
            F.sum(F.when(F.col("yr") == PVM_Y2, F.col("cents")).otherwise(0))
            .cast("long").alias("rev2"),
            F.sum(F.when(F.col("yr") == PVM_Y1, F.col("qty")).otherwise(0))
            .cast("long").alias("q1"),
            F.sum(F.when(F.col("yr") == PVM_Y2, F.col("qty")).otherwise(0))
            .cast("long").alias("q2"),
        )
    )
    # half-up cents of rev1*q2/q1 (numerator >= 0) and of the signed
    # volume term rev1*(q2-q1)/q1
    p1q2 = "((2 * rev1 * q2 + q1) div (2 * q1))"
    volq = "((2 * rev1 * abs(q2 - q1) + q1) div (2 * q1))"
    return g.select(
        "p_brand",
        F.col("q1").alias("qty_y1"),
        F.col("q2").alias("qty_y2"),
        F.col("rev1").alias("rev_y1_cents"),
        F.col("rev2").alias("rev_y2_cents"),
        (F.col("rev2") - F.col("rev1")).alias("delta_cents"),
        F.expr(f"case when q1 > 0 then rev2 - {p1q2} end")
        .alias("price_effect_cents"),
        F.expr(
            f"case when q1 > 0 then"
            f" case when q2 >= q1 then {volq} else -{volq} end end"
        ).alias("volume_effect_cents"),
    ).orderBy("p_brand")


ORACLE_PVM = f"""
WITH li AS (
  SELECT l_partkey, year(l_shipdate) AS yr,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem WHERE year(l_shipdate) IN ({PVM_Y1}, {PVM_Y2})),
g AS (
  SELECT p_brand,
         CAST(SUM(CASE WHEN yr = {PVM_Y1} THEN cents ELSE 0 END) AS BIGINT)
           AS rev1,
         CAST(SUM(CASE WHEN yr = {PVM_Y2} THEN cents ELSE 0 END) AS BIGINT)
           AS rev2,
         CAST(SUM(CASE WHEN yr = {PVM_Y1} THEN qty ELSE 0 END) AS BIGINT)
           AS q1,
         CAST(SUM(CASE WHEN yr = {PVM_Y2} THEN qty ELSE 0 END) AS BIGINT)
           AS q2
  FROM li JOIN part ON l_partkey = p_partkey GROUP BY 1)
SELECT p_brand, q1 AS qty_y1, q2 AS qty_y2,
       rev1 AS rev_y1_cents, rev2 AS rev_y2_cents,
       rev2 - rev1 AS delta_cents,
       CASE WHEN q1 > 0 THEN
         rev2 - ((2 * rev1 * q2 + q1) // (2 * q1))
       END AS price_effect_cents,
       CASE WHEN q1 > 0 THEN
         CASE WHEN q2 >= q1
              THEN ((2 * rev1 * abs(q2 - q1) + q1) // (2 * q1))
              ELSE -((2 * rev1 * abs(q2 - q1) + q1) // (2 * q1)) END
       END AS volume_effect_cents
FROM g ORDER BY p_brand
"""


def stats_jackknife_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-nation jackknife influence on the global mean order
    value — the robustness diagnostic behind any headline average:
    re-estimate the mean with each nation's orders removed and report
    how far the leave-one-out estimate moves (a nation with outsized
    influence is a concentration risk, and the spread of the LOO
    estimates is the jackknife variance). Exact integer group sums; the
    global and LOO means are exact half-up rationals at 6dp, and the
    influence is their difference (one IEEE subtraction of two exact
    1e-6 multiples — deterministic; the direct cross-multiplied form
    s_i·N − n_i·S overflows BIGINT already at sf0.01), so the full
    table carries a value hash.

    Scale: one orders→customer broadcast join, one nation-grain agg
    (≤25 rows), totals broadcast back — the fact stream crosses the
    wire once and the jackknife itself is dimension-grain arithmetic,
    never a second pass."""
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)")
        .alias("cents"),
    )
    cust = catalog.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = catalog.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    per = (
        orders.join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum("cents").cast("long").alias("s_i"),
        )
    )
    tot = per.agg(
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("s_i").cast("long").alias("ss"),
    )
    g_mean = rat_round6_spark("ss", "nn")
    loo = rat_round6_spark("ss - s_i", "nn - n_i")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            F.col("n_i").alias("n_orders"),
            F.col("s_i").alias("sum_cents"),
            F.expr(rat_round6_spark("s_i", "n_i")).alias("mean_cents_r6"),
            F.expr(g_mean).alias("global_mean_cents_r6"),
            F.expr(f"case when nn > n_i then {loo} end")
            .alias("loo_mean_cents_r6"),
            F.expr(
                f"case when nn > n_i then"
                f" round({g_mean} - {loo}, 6) end"
            ).alias("influence_cents_r6"),
        )
        .orderBy("n_name")
    )


ORACLE_JACKKNIFE = f"""
WITH per AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS s_i
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS nn, CAST(SUM(s_i) AS BIGINT) AS ss
  FROM per)
SELECT n_name, n_i AS n_orders, s_i AS sum_cents,
       {rat_round6_duck("s_i", "n_i")} AS mean_cents_r6,
       {rat_round6_duck("ss", "nn")} AS global_mean_cents_r6,
       CASE WHEN nn > n_i THEN
         {rat_round6_duck("ss - s_i", "nn - n_i")}
       END AS loo_mean_cents_r6,
       CASE WHEN nn > n_i THEN
         ROUND({rat_round6_duck("ss", "nn")}
               - {rat_round6_duck("ss - s_i", "nn - n_i")}, 6)
       END AS influence_cents_r6
FROM per CROSS JOIN tot ORDER BY n_name
"""


# z constants: Φ⁻¹(0.975) and Φ⁻¹(0.80) — the 5%-two-sided / 80%-power
# design point every experimentation platform defaults to.
MDE_Z_ALPHA = 1.959964
MDE_Z_POWER = 0.841621


def stats_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-detectable-effect readout for the production A/B split
    (stats_ab_test's md5 arm assignment and conversion definition): at
    the 5%-two-sided / 80%-power design point, the smallest absolute
    (and relative) rate difference the CURRENT sample sizes can detect
    — the go/no-go companion every experiment review asks for next to
    the z readout ("is this test even powered?"). Counts are exact
    integers; rates are exact rationals; the MDE is one sqrt readout of
    a deterministic rational (identical expression both engines — the
    stats_weekend_mix_ztest Class B discipline) and `powered` compares
    the observed |Δ| against it.

    Scale: one user-grain dedup + a 2-row arm agg — the fact stream
    crosses the wire once; the power math is constant-size."""
    from .temporal import AB_CONV_VALUE, AB_SALT

    ev = _events(spark, sf_dir)
    users = (
        ev.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > AB_CONV_VALUE),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn(
            "arm_a",
            F.expr(
                "cast(conv(substring(md5(concat(cast(user_id as string), "
                f"':{AB_SALT}')), 1, 7), 16, 10) as bigint) % 2 = 0"
            ),
        )
    )
    g = users.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm_a"), F.col("converted")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("converted")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    pb = "(cast(conv_a + conv_b as double) / cast(n_a + n_b as double))"
    mde = (
        f"({MDE_Z_ALPHA} + {MDE_Z_POWER})"
        f" * sqrt({pb} * (1.0d - {pb})"
        f" * (1.0d / n_a + 1.0d / n_b))"
    )
    dlt = (
        "abs(cast(conv_a as double) / cast(n_a as double)"
        " - cast(conv_b as double) / cast(n_b as double))"
    )
    return g.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr(rat_round6_spark("conv_a", "n_a")).alias("rate_a_r6"),
        F.expr(rat_round6_spark("conv_b", "n_b")).alias("rate_b_r6"),
        F.expr(
            f"case when n_a > 0 and n_b > 0 and conv_a + conv_b > 0"
            f" and conv_a + conv_b < n_a + n_b"
            f" then round({mde}, 6) end"
        ).alias("mde_abs_r6"),
        F.expr(
            f"case when n_a > 0 and n_b > 0 and conv_a + conv_b > 0"
            f" and conv_a + conv_b < n_a + n_b"
            f" then round({mde} / {pb}, 6) end"
        ).alias("mde_rel_r6"),
        F.expr(
            f"case when n_a > 0 and n_b > 0 and conv_a + conv_b > 0"
            f" and conv_a + conv_b < n_a + n_b"
            f" then {dlt} >= {mde} end"
        ).alias("powered"),
    )


def _oracle_mde() -> str:
    pb = "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    mde = (
        f"({MDE_Z_ALPHA} + {MDE_Z_POWER})"
        f" * sqrt({pb} * (1.0 - {pb})"
        f" * (1.0 / n_a + 1.0 / n_b))"
    )
    dlt = (
        "abs(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    )
    guard = (
        "n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0"
        " AND conv_a + conv_b < n_a + n_b"
    )
    return f"""
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > __CONV__
                  THEN 1 ELSE 0 END) AS converted,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':__SALT__'),
              1, 7) AS BIGINT) % 2 = 0 AS arm_a
  FROM events GROUP BY user_id),
g AS (
  SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm_a THEN converted ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(SUM(CASE WHEN NOT arm_a THEN converted ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM users)
SELECT n_a, n_b, conv_a, conv_b,
       {rat_round6_duck("conv_a", "n_a")} AS rate_a_r6,
       {rat_round6_duck("conv_b", "n_b")} AS rate_b_r6,
       CASE WHEN {guard} THEN ROUND({mde}, 6) END AS mde_abs_r6,
       CASE WHEN {guard} THEN ROUND({mde} / {pb}, 6) END AS mde_rel_r6,
       CASE WHEN {guard} THEN {dlt} >= {mde} END AS powered
FROM g
"""


def _finish_oracle_mde() -> str:
    from .temporal import AB_CONV_VALUE, AB_SALT

    return (
        _oracle_mde()
        .replace("__CONV__", str(AB_CONV_VALUE))
        .replace("__SALT__", str(AB_SALT))
    )


ORACLE_MDE = _finish_oracle_mde()


def ev_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type: η² — the share
    of (date, hour)-cell count variance explained by the hour-of-day
    factor — the single number that says whether a type's traffic is
    clock-driven (capacity planning keys off it) or flat. Cells are
    exact integer counts on TZ-proof epoch arithmetic; the per-hour
    between-group terms T_h²/m_h enter the house round-9 → DECIMAL sum,
    and the readout is one deterministic double expression (the
    stats_weekend_mix_ztest Class B discipline).

    Scale: one (type, day, hour) map-side-combinable agg, one 24-row
    hour rollup per type — the fact stream never enters a window."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(f"({_US}) div 86400000000").alias("day"),
        F.expr(f"(({_US}) div 3600000000) % 24").alias("hod"),
    )
    cells = ev.groupBy("event_type", "day", "hod").agg(
        F.count("*").cast("long").alias("x")
    )
    hours = cells.groupBy("event_type", "hod").agg(
        F.count("*").cast("long").alias("m_h"),
        F.sum("x").cast("long").alias("t_h"),
        F.sum(F.expr("x * x")).cast("long").alias("q_h"),
    )
    per = hours.groupBy("event_type").agg(
        F.sum("m_h").cast("long").alias("n_cells"),
        F.count("*").cast("long").alias("n_hours"),
        F.sum("t_h").cast("long").alias("t"),
        F.sum("q_h").cast("long").alias("q"),
        F.sum(
            F.round(
                F.expr("cast(t_h as double) * cast(t_h as double)"
                       " / cast(m_h as double)"),
                9,
            ).cast("decimal(38,9)")
        ).alias("b"),
    )
    corr = "cast(t as double) * cast(t as double) / cast(n_cells as double)"
    eta2 = (
        f"(cast(b as double) - {corr})"
        f" / (cast(q as double) - {corr})"
    )
    return per.select(
        "event_type",
        "n_cells",
        "n_hours",
        F.expr(
            f"case when cast(q as double) > {corr}"
            f" then round({eta2}, 6) end"
        ).alias("eta2_r6"),
    ).orderBy("event_type")


ORACLE_SEASONALITY = f"""
WITH ev AS (
  SELECT event_type,
         ({_US_DUCK}) // 86400000000 AS day,
         (({_US_DUCK}) // 3600000000) % 24 AS hod
  FROM events),
cells AS (
  SELECT event_type, day, hod, CAST(COUNT(*) AS BIGINT) AS x
  FROM ev GROUP BY 1, 2, 3),
hours AS (
  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS m_h,
         CAST(SUM(x) AS BIGINT) AS t_h,
         CAST(SUM(x * x) AS BIGINT) AS q_h
  FROM cells GROUP BY 1, 2),
per AS (
  SELECT event_type, CAST(SUM(m_h) AS BIGINT) AS n_cells,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(t_h) AS BIGINT) AS t, CAST(SUM(q_h) AS BIGINT) AS q,
         SUM(CAST(ROUND(CAST(t_h AS DOUBLE) * CAST(t_h AS DOUBLE)
                        / CAST(m_h AS DOUBLE), 9) AS DECIMAL(38,9))) AS b
  FROM hours GROUP BY 1)
SELECT event_type, n_cells, n_hours,
       CASE WHEN CAST(q AS DOUBLE)
              > CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                / CAST(n_cells AS DOUBLE) THEN
         ROUND((CAST(b AS DOUBLE)
                - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                  / CAST(n_cells AS DOUBLE))
               / (CAST(q AS DOUBLE)
                  - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                    / CAST(n_cells AS DOUBLE)), 6)
       END AS eta2_r6
FROM per ORDER BY event_type
"""


SEQ_CAP = 512  # first events per user entering the pattern string
# (name, regex) — Java∩RE2 subset only (classes + bounded reps, no
# backslash classes / lookaround), so both engines compile identically
SEQ_PATTERNS = (
    ("double_error", "ee"),
    ("error_then_purchase", "e[cv]{0,3}p"),
    ("signup_to_purchase", "s[cv]*p"),
)


def ev_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection (the SQL:2016
    surface Spark lacks): each user's time-ordered event stream becomes
    a string of type initials (c/e/p/s/v) and a fixed pattern library
    runs as regexes over it — double errors, error→purchase recovery
    within ≤3 browse events, signup→purchase conversion. Left-to-right
    non-overlapping match counts are identical under Java and RE2 for
    this pattern subset, so the table is fully value-hashed.

    Scale: one user-keyed window caps each sequence at {SEQ_CAP} events
    (bot-proof bounded state — the per-user string is ≤{SEQ_CAP} chars
    by construction), then a map-side regex pass and a
    patterns-alphabet-bounded agg. The fact stream shuffles once."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr(_US).alias("us"),
        "event_id",
        F.expr("substring(event_type, 1, 1)").alias("ch"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    seq = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SEQ_CAP)
        .groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(rn, ch))), x -> x.ch), '')"
            ).alias("s")
        )
    )
    per_pat = [
        seq.select(
            F.lit(name).alias("pattern"),
            F.regexp_count(F.col("s"), F.lit(pat)).cast("long").alias("c"),
        )
        for name, pat in SEQ_PATTERNS
    ]
    allm = per_pat[0]
    for p in per_pat[1:]:
        allm = allm.unionByName(p)
    return (
        allm.groupBy("pattern")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).cast("long")
            .alias("n_users_matched"),
            F.sum("c").cast("long").alias("total_matches"),
        )
        .select(
            "pattern",
            "n_users",
            "n_users_matched",
            "total_matches",
            F.expr(rat_round6_spark("n_users_matched", "n_users"))
            .alias("user_match_rate_r6"),
        )
        .orderBy("pattern")
    )


def _oracle_seq_patterns() -> str:
    vals = ", ".join(f"('{n}', '{p}')" for n, p in SEQ_PATTERNS)
    return f"""
WITH ev AS (
  SELECT user_id, {_US_DUCK} AS us, event_id,
         substr(event_type, 1, 1) AS ch
  FROM events),
r AS (
  SELECT user_id, ch,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS rn
  FROM ev),
seq AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS s
  FROM r WHERE rn <= {SEQ_CAP} GROUP BY 1),
m AS (
  SELECT p.pattern,
         CAST(len(regexp_extract_all(s, p.re)) AS BIGINT) AS c
  FROM seq CROSS JOIN (VALUES {vals}) AS p(pattern, re)),
g AS (
  SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users_matched,
         CAST(SUM(c) AS BIGINT) AS total_matches
  FROM m GROUP BY 1)
SELECT pattern, n_users, n_users_matched, total_matches,
       {rat_round6_duck("n_users_matched", "n_users")}
         AS user_match_rate_r6
FROM g ORDER BY pattern
"""


ORACLE_SEQ_PATTERNS = _oracle_seq_patterns()


def mm_prefix_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint reliability audit: the asset store buckets
    binaries by the cheap truncated-prefix fingerprint
    (mm_dedup_fingerprint's key — at 100 TB you hash 24-byte prefixes,
    not full payloads), and this op measures what that trade costs:
    per media type, prefix groups vs full-payload md5 groups and the
    FALSE-MERGE rate (prefix groups that mix >1 distinct full hash —
    exactly the pairs a byte-level verify tier must re-check). A full
    hash cannot span two prefix groups (same content ⇒ same prefix),
    so Σ per-group distinct full hashes IS the full-group count.

    Scale: one (media_type, prefix-hash) map-side-combined agg over the
    payload scan, then a modality-bounded rollup."""
    from .multimodal import _assets, asset_fingerprint

    a = _assets(spark, sf_dir).select(
        "media_type",
        asset_fingerprint().alias("pf"),
        F.md5("payload").alias("ff"),
    )
    grp = a.groupBy("media_type", "pf").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("ff").cast("long").alias("nf"),
    )
    return (
        grp.groupBy("media_type")
        .agg(
            F.sum("n").cast("long").alias("n_assets"),
            F.count("*").cast("long").alias("n_prefix_groups"),
            F.sum("nf").cast("long").alias("n_full_groups"),
            F.sum(F.when(F.col("nf") > 1, 1).otherwise(0)).cast("long")
            .alias("n_false_merge_groups"),
        )
        .select(
            "media_type",
            "n_assets",
            "n_prefix_groups",
            "n_full_groups",
            "n_false_merge_groups",
            F.expr(rat_round6_spark("n_false_merge_groups",
                                    "n_prefix_groups"))
            .alias("false_merge_rate_r6"),
        )
        .orderBy("media_type")
    )


def _oracle_prefix_hash_audit() -> str:
    from .multimodal import FP_PREFIX_CHARS

    return f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         md5(substr(text, 1, {FP_PREFIX_CHARS})) AS pf,
         md5(text) AS ff
  FROM documents),
grp AS (
  SELECT media_type, pf, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT ff) AS BIGINT) AS nf
  FROM a GROUP BY 1, 2),
g AS (
  SELECT media_type, CAST(SUM(n) AS BIGINT) AS n_assets,
         CAST(COUNT(*) AS BIGINT) AS n_prefix_groups,
         CAST(SUM(nf) AS BIGINT) AS n_full_groups,
         CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_merge_groups
  FROM grp GROUP BY 1)
SELECT media_type, n_assets, n_prefix_groups, n_full_groups,
       n_false_merge_groups,
       {rat_round6_duck("n_false_merge_groups", "n_prefix_groups")}
         AS false_merge_rate_r6
FROM g ORDER BY media_type
"""


ORACLE_PREFIX_HASH_AUDIT = _oracle_prefix_hash_audit()


HUB_PROBES = 256  # probe subset for the hubness graph (vec_id < this)
HUB_K = 5  # neighbors per probe


def emb_probe_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness and reciprocity diagnostics over a fixed probe subset:
    build the exact {HUB_K}-NN graph among the first {HUB_PROBES}
    vectors (squared grid distances, vec_id tiebreak) and report, per
    probe, its k-occurrence (how many OTHER probes list it as a
    neighbor — the hubness curse-of-dimensionality signal: a few hubs
    absorbing everyone's neighbor lists ruins kNN classifiers and ANN
    recall) and how many of its own neighbors reciprocate (mutual-kNN
    edge rate — the graph ANN-index health signal). Exact integers
    end to end.

    Scale: the graph is probe×probe by construction ({HUB_PROBES}² ≤
    65k pairs regardless of corpus size) — a broadcast self-join, never
    a corpus² term; the corpus enters only through the probe scan."""
    probes = _emb(spark, sf_dir).filter(
        F.col("vec_id") < HUB_PROBES
    ).select("vec_id", F.expr(_EMB_Q_SQL).alias("q"))
    a = probes.select(F.col("vec_id").alias("a"), F.col("q").alias("qa"))
    b = probes.select(F.col("vec_id").alias("b"), F.col("q").alias("qb"))
    pairs = a.join(F.broadcast(b), F.col("a") != F.col("b")).select(
        "a",
        "b",
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (acc, v) -> acc + v)"
        ).alias("d2"),
    )
    w = W.partitionBy("a").orderBy("d2", "b")
    knn = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HUB_K)
        .select("a", "b")
        .localCheckpoint(eager=True)  # feeds occurrence + reciprocity
    )
    occ = knn.groupBy("b").agg(F.count("*").cast("long").alias("k_occ"))
    recip = (
        knn.join(
            knn.select(F.col("a").alias("b"), F.col("b").alias("a")),
            ["a", "b"],
        )
        .groupBy("a")
        .agg(F.count("*").cast("long").alias("n_recip"))
    )
    return (
        probes.select(F.col("vec_id").alias("pid"))
        .join(occ.withColumnRenamed("b", "pid"), "pid", "left")
        .join(recip.withColumnRenamed("a", "pid"), "pid", "left")
        .select(
            "pid",
            F.coalesce("k_occ", F.lit(0)).cast("long").alias("k_occ"),
            F.coalesce("n_recip", F.lit(0)).cast("long").alias("n_recip"),
        )
        .orderBy("pid")
    )


ORACLE_PROBE_HUBNESS = f"""
WITH probes AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id < {HUB_PROBES}),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS BIGINT) AS d2
  FROM probes a CROSS JOIN probes b WHERE a.vec_id != b.vec_id),
knn AS (
  SELECT a, b FROM (
    SELECT a, b,
           ROW_NUMBER() OVER (PARTITION BY a ORDER BY d2, b) AS rn
    FROM pairs)
  WHERE rn <= {HUB_K}),
occ AS (SELECT b AS pid, CAST(COUNT(*) AS BIGINT) AS k_occ
        FROM knn GROUP BY 1),
recip AS (
  SELECT k1.a AS pid, CAST(COUNT(*) AS BIGINT) AS n_recip
  FROM knn k1 JOIN knn k2 ON k1.a = k2.b AND k1.b = k2.a
  GROUP BY 1)
SELECT p.vec_id AS pid,
       COALESCE(o.k_occ, 0) AS k_occ,
       COALESCE(r.n_recip, 0) AS n_recip
FROM probes p
LEFT JOIN occ o ON p.vec_id = o.pid
LEFT JOIN recip r ON p.vec_id = r.pid
ORDER BY pid
"""


PFX_PROBES = 64  # probe queries for the prefix-dimension recall sweep
PFX_DIMS = (8, 16, 32, 64)
PFX_K = 10


def emb_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/dimension-truncation recall sweep: exact top-{PFX_K}
    neighbors of {PFX_PROBES} probe queries computed over only the
    first 8/16/32/64 dimensions, scored as micro-averaged recall
    against the full-dimension exact top-{PFX_K} — THE sizing table for
    shipping truncated embeddings (emb_energy_prefix says how much
    norm the prefix keeps; this says how much RETRIEVAL it keeps,
    which is what actually matters). Distances are exact integers on
    the 2^-20 grid; recall is an exact rational.

    Scale: the house Arrow GEMM scorer (:func:`_probe_scan`) — the
    probe matrix rides in the scorer's closure, every batch emits only
    its local top-{PFX_K} per (prefix, probe) under the final window's
    total order (:func:`_local_topk`, the r13 sim_cosine_topk
    reduction), so the shuffle is 4·{PFX_PROBES}·{PFX_K} rows per batch
    and the final window sorts bounded groups. Exact in float64 BLAS
    (integer grid values < 2^21; see TwoNN)."""
    emb = _emb(spark, sf_dir)

    def kernel(pdf, pids, pq):
        full = _grid(_to_matrix(pdf["embedding"]))
        vids = pdf["vec_id"].to_numpy()
        frames = []
        for m in PFX_DIMS:
            q, v, s = _local_topk(
                pids, vids, _sq_dists(full[:, :m], pq[:, :m]), PFX_K,
                descending=False,
            )
            frames.append(
                pd.DataFrame(
                    {
                        "m": np.full(len(q), m, dtype=np.int32),
                        "pid": q,
                        "vec_id": v,
                        "d2": s.astype(np.int64),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    cand = _probe_scan(
        emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism,
                     F.col("vec_id")),  # the _docs_par insurance rule
        emb.filter(F.col("vec_id") < PFX_PROBES).select(
            "vec_id", "embedding"
        ),
        kernel, "m int, pid long, vec_id long, d2 long", prep=_grid,
    )
    w = W.partitionBy("m", "pid").orderBy("d2", "vec_id")
    topk = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PFX_K)
        .select("m", "pid", "vec_id")
        .localCheckpoint(eager=True)  # feeds baseline + overlap branches
    )
    base = topk.filter(F.col("m") == max(PFX_DIMS)).select("pid", "vec_id")
    bn = base.agg(
        F.count("*").cast("long").alias("n_base"),
        F.countDistinct("pid").cast("long").alias("n_probes"),
    )
    ov = (
        topk.join(base, ["pid", "vec_id"])
        .groupBy("m")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        ov.crossJoin(F.broadcast(bn))
        .select(
            F.col("m").alias("prefix_dims"),
            "n_probes",
            "n_base",
            "n_overlap",
            F.expr(rat_round6_spark("n_overlap", "n_base"))
            .alias("recall_r6"),
        )
        .orderBy("prefix_dims")
    )


def _oracle_prefix_recall() -> str:
    dims = ", ".join(str(m) for m in PFX_DIMS)
    return f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
  FROM embeddings),
probes AS (
  SELECT vec_id AS pid, q AS pq FROM qv WHERE vec_id < {PFX_PROBES}),
ms AS (SELECT unnest([{dims}]) AS m),
pairs AS (
  SELECT ms.m, p.pid, e.vec_id,
         CAST(list_sum(list_transform(range(1, ms.m + 1),
           i -> (e.q[i] - p.pq[i]) * (e.q[i] - p.pq[i]))) AS BIGINT) AS d2
  FROM qv e CROSS JOIN probes p CROSS JOIN ms
  WHERE e.vec_id != p.pid),
topk AS (
  SELECT m, pid, vec_id FROM (
    SELECT m, pid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY m, pid
                              ORDER BY d2, vec_id) AS rn
    FROM pairs)
  WHERE rn <= {PFX_K}),
base AS (SELECT pid, vec_id FROM topk WHERE m = {max(PFX_DIMS)}),
bn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_base,
         CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_probes
  FROM base),
ov AS (
  SELECT t.m, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM topk t JOIN base b ON t.pid = b.pid AND t.vec_id = b.vec_id
  GROUP BY 1)
SELECT m AS prefix_dims, n_probes, n_base, n_overlap,
       {rat_round6_duck("n_overlap", "n_base")} AS recall_r6
FROM ov CROSS JOIN bn ORDER BY prefix_dims
"""


ORACLE_PREFIX_RECALL = _oracle_prefix_recall()


# (bands, rows-per-band) sweeps with bands·rows == MINHASH_PERMS — the
# knob grid an LSH deployment actually chooses between
PLANNER_CONFIGS = ((50, 2), (25, 4), (20, 5), (10, 10))


def dedup_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding planner: sweep the (bands × rows-per-band)
    grid over the REAL production 100-permutation signatures and report
    each config's measured cost (multi-occupancy buckets, candidate
    pairs with and without bucket dedup — the verify-tier workload) and
    measured recall against the exact-Jaccard-verified reference pair
    set. dedup_band_precision_profile profiles the SHIPPED 25×4 config
    band by band; this op is the tuning table that says what the OTHER
    configs would have cost and caught. Reference = the union of every
    config's candidates, exact-verified at τ — wider-banded configs
    ((50,2)) collide strictly more easily, so the union is the natural
    measurable truth set (documented: pairs no config can see are
    invisible to all of them by construction).

    Scale: as its kernel, ``dedup._band_sweep``."""
    from .dedup import _band_sweep

    return (
        _band_sweep(spark, sf_dir, PLANNER_CONFIGS)
        .select(
            "bands",
            "rpb",
            "n_buckets_multi",
            "cand_pairs_total",
            "cand_pairs_distinct",
            F.col("truth_n").alias("n_true_ref"),
            F.col("n_verified").alias("n_true_captured"),
            F.expr(
                "case when truth_n > 0 then "
                + rat_round6_spark("n_verified", "truth_n")
                + " end"
            ).alias("recall_r6"),
        )
        .orderBy("rpb")
    )


def _oracle_band_planner() -> str:
    from .dedup import (
        _DUCK_SHINGLES,
        MINHASH_PERMS,
        MINHASH_TAU,
    )
    from ..functions.hashing import sql_minhash_signature_duck

    vals = ", ".join(f"({b}, {r})" for b, r in PLANNER_CONFIGS)
    jac = (
        "len(list_intersect(x.shingles, y.shingles)) * 1.0"
        " / len(list_distinct(list_concat(x.shingles, y.shingles)))"
    )
    return f"""
WITH shl AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id,
         {sql_minhash_signature_duck('shingles', MINHASH_PERMS)} AS sig
  FROM shl),
cfg AS (SELECT * FROM (VALUES {vals}) c(bands, rpb)),
bandrows AS (
  SELECT cfg.bands, cfg.rpb, s.doc_id,
         u.b || ':' || array_to_string(
           s.sig[u.b * cfg.rpb + 1 : u.b * cfg.rpb + cfg.rpb], ',')
           AS band_key
  FROM sig s CROSS JOIN cfg,
       LATERAL unnest(range(0, cfg.bands)) AS u(b)),
buckets AS (
  SELECT bands, rpb, band_key, CAST(COUNT(*) AS BIGINT) AS m
  FROM bandrows GROUP BY 1, 2, 3 HAVING COUNT(*) > 1),
tot AS (
  SELECT bands, rpb, CAST(COUNT(*) AS BIGINT) AS n_buckets_multi,
         CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS cand_pairs_total
  FROM buckets GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT a.bands, a.rpb, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandrows a JOIN bandrows b
    ON a.bands = b.bands AND a.rpb = b.rpb
   AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
pcnt AS (
  SELECT bands, rpb, CAST(COUNT(*) AS BIGINT) AS cand_pairs_distinct
  FROM pairs GROUP BY 1, 2),
up AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
truth AS (
  SELECT doc_a, doc_b
  FROM up JOIN shl x ON doc_a = x.doc_id JOIN shl y ON doc_b = y.doc_id
  WHERE {jac} >= {MINHASH_TAU}),
tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_ref FROM truth),
cap AS (
  SELECT bands, rpb, CAST(COUNT(*) AS BIGINT) AS n_true_captured
  FROM pairs JOIN truth USING (doc_a, doc_b) GROUP BY 1, 2)
SELECT cfg.bands, cfg.rpb,
       COALESCE(tot.n_buckets_multi, 0) AS n_buckets_multi,
       COALESCE(tot.cand_pairs_total, 0) AS cand_pairs_total,
       COALESCE(pcnt.cand_pairs_distinct, 0) AS cand_pairs_distinct,
       tr.n_true_ref,
       COALESCE(cap.n_true_captured, 0) AS n_true_captured,
       CASE WHEN tr.n_true_ref > 0 THEN
         {rat_round6_duck("COALESCE(cap.n_true_captured, 0)",
                          "tr.n_true_ref")}
       END AS recall_r6
FROM cfg
LEFT JOIN tot USING (bands, rpb)
LEFT JOIN pcnt USING (bands, rpb)
LEFT JOIN cap USING (bands, rpb)
CROSS JOIN tr
ORDER BY cfg.rpb
"""


ORACLE_BAND_PLANNER = _oracle_band_planner()


def dedup_method_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement audit between the two production near-dup
    screens: MinHash-LSH verified pairs (Jaccard ≥ τ) vs SimHash banded
    pairs (Hamming ≤ 3) — the confusion table that says whether the two
    families flag the SAME duplicates or complementary ones (if
    simhash_only is large, a MinHash-only pipeline is leaking dups; if
    both cells dominate, one screen is redundant). Per cell: pair
    count, how many carry near-identical token sets (Jaccard ≥ 0.9),
    and how many are bitwise-near (Hamming ≤ 1). Exact integers; the
    Jaccard threshold compares the same single IEEE division both
    engines compute.

    Scale: both inputs are the already-bounded verified pair streams
    (banded candidates, never all-pairs); the audit is one full-outer
    join on the pair key."""
    from .dedup import dedup_minhash_lsh, dedup_simhash

    mh = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    sh = dedup_simhash(spark, sf_dir).select("doc_a", "doc_b", "hamming")
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer").select(
        F.when(
            F.col("jaccard").isNotNull() & F.col("hamming").isNotNull(),
            "both",
        )
        .when(F.col("jaccard").isNotNull(), "minhash_only")
        .otherwise("simhash_only")
        .alias("method_cell"),
        "jaccard",
        "hamming",
    )
    return (
        j.groupBy("method_cell")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("jaccard") >= 0.9, 1).otherwise(0))
            .cast("long").alias("n_jaccard_ge90"),
            F.sum(F.when(F.col("hamming") <= 1, 1).otherwise(0))
            .cast("long").alias("n_hamming_le1"),
        )
        .orderBy("method_cell")
    )


def _oracle_method_confusion() -> str:
    from .dedup import ORACLE_MINHASH_LSH, ORACLE_SIMHASH

    return f"""
WITH mh AS (SELECT doc_a, doc_b, jaccard FROM ({ORACLE_MINHASH_LSH})),
sh AS (SELECT doc_a, doc_b, hamming FROM ({ORACLE_SIMHASH})),
j AS (
  SELECT CASE WHEN mh.jaccard IS NOT NULL AND sh.hamming IS NOT NULL
              THEN 'both'
              WHEN mh.jaccard IS NOT NULL THEN 'minhash_only'
              ELSE 'simhash_only' END AS method_cell,
         mh.jaccard, sh.hamming
  FROM mh FULL OUTER JOIN sh USING (doc_a, doc_b))
SELECT method_cell, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_jaccard_ge90,
       CAST(SUM(CASE WHEN hamming <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hamming_le1
FROM j GROUP BY 1 ORDER BY method_cell
"""


ORACLE_METHOD_CONFUSION = _oracle_method_confusion()


# --------------------------------------------------------------------------
# Batch O (r14 continuation; the r15 window backlog): SLO burn rate,
# Cochran-Armitage trend, McNemar paired test, BH-FDR multiple testing,
# kmeans elbow sweep, LSH recall vs corpus scale
# --------------------------------------------------------------------------

SLO_TARGET_PCT = 1  # error-budget SLO: 1% error share
SLO_FAST_BURN_X10 = 144  # 14.4x budget burn over 1 day (Google SRE page)
SLO_SLOW_BURN_X10 = 60   # 6x budget burn over the trailing 7 days


def ev_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn-rate table (the SRE multiwindow alert
    math): per day, the error share against a 1% SLO expressed as a
    burn-rate multiple — burn 1 means the budget exactly runs out at
    the period's end; the standard pages fire at 14.4× over a short
    window and 6× over a long one. Both alert flags are EXACT integer
    cross-multiplications (1000·e ≥ 144·n etc. — no float in the
    decision), and the burn rates are exact half-up rationals.

    Scale: one day-grain map-side-combinable agg; the trailing-7-day
    window runs over the DAILY frame (calendar-bounded — ~365
    rows/year) with a RANGE frame, so calendar gaps are handled and
    the fact stream never enters a window."""
    return assemble_slo_burn(slo_burn_grain(_events(spark, sf_dir)))


def slo_burn_grain(events: DataFrame) -> DataFrame:
    """The (day, n, e) daily error ledger, shared by the batch op and
    streaming/jobs.run_slo_burn_stream."""
    ev = events.select(
        F.expr(f"({_US}) div 86400000000").alias("day"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    return ev.groupBy("day").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("is_err").cast("long").alias("e"),
    )


def assemble_slo_burn(daily: DataFrame) -> DataFrame:
    """Burn-rate readout over the (day, n, e) DAILY frame — the shared
    contract between the batch op and
    streaming/jobs.run_slo_burn_stream (the two-grain assembly rule:
    the stream holds only the calendar-bounded daily grain)."""
    w7 = W.orderBy("day").rangeBetween(-6, 0)
    t = daily.withColumn("n7", F.sum("n").over(w7).cast("long")).withColumn(
        "e7", F.sum("e").over(w7).cast("long")
    )
    return t.select(
        F.col("day").alias("day_epoch"),
        F.col("n").alias("n_events"),
        F.col("e").alias("n_errors"),
        F.expr(rat_round6_spark(f"100 * e", "n")).alias("burn_1d_r6"),
        F.expr(rat_round6_spark(f"100 * e7", "n7")).alias("burn_7d_r6"),
        F.expr(f"1000 * e >= {SLO_FAST_BURN_X10} * n").alias("fast_burn"),
        F.expr(f"1000 * e7 >= {SLO_SLOW_BURN_X10} * n7").alias("slow_burn"),
    ).orderBy("day_epoch")


ORACLE_SLO_BURN = f"""
WITH daily AS (
  SELECT ({_US_DUCK}) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY 1),
t AS (
  SELECT *,
         CAST(SUM(n) OVER (ORDER BY day
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n7,
         CAST(SUM(e) OVER (ORDER BY day
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
              AS BIGINT) AS e7
  FROM daily)
SELECT day AS day_epoch, n AS n_events, e AS n_errors,
       {rat_round6_duck("100 * e", "n")} AS burn_1d_r6,
       {rat_round6_duck("100 * e7", "n7")} AS burn_7d_r6,
       1000 * e >= {SLO_FAST_BURN_X10} * n AS fast_burn,
       1000 * e7 >= {SLO_SLOW_BURN_X10} * n7 AS slow_burn
FROM t ORDER BY day_epoch
"""


def stats_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: is the purchase share RISING or
    FALLING across ordered weekly periods? The two-proportion z says two
    groups differ; this is the ordered-k-group version every growth
    review actually needs ("is conversion trending?"). Weeks are
    TZ-proof epoch-day buckets (day div 7); the statistic is one sqrt
    readout of exact integer sums — z = (N·Σxt − X·Σnt) /
    sqrt(X·(N−X)·(N·Σnt² − (Σnt)²)/N) — with the wide products computed
    in deterministic double expressions (identical parenthesization on
    both engines; BIGINT would overflow at the X·(N−X)·(...) term).

    Scale: one week-grain agg (calendar-bounded) then constant-size
    arithmetic — the fact stream crosses the wire once."""
    ev = _events(spark, sf_dir).select(
        F.expr(f"(({_US}) div 86400000000) div 7").alias("t"),
        (F.col("event_type") == "purchase").cast("long").alias("is_x"),
    )
    wk = ev.groupBy("t").agg(
        F.count("*").cast("long").alias("n_t"),
        F.sum("is_x").cast("long").alias("x_t"),
    )
    # normalize week ids to 1..T so the t moments stay small
    wmin = wk.agg(F.min("t").alias("t0"))
    g = (
        wk.crossJoin(F.broadcast(wmin))
        .select((F.col("t") - F.col("t0") + 1).alias("ti"), "n_t", "x_t")
        .agg(
            F.count("*").cast("long").alias("k_periods"),
            F.sum("n_t").cast("long").alias("nn"),
            F.sum("x_t").cast("long").alias("xx"),
            F.sum(F.expr("n_t * ti")).cast("long").alias("snt"),
            F.sum(F.expr("x_t * ti")).cast("long").alias("sxt"),
            F.sum(F.expr("n_t * ti * ti")).cast("long").alias("snt2"),
        )
    )
    num = "(cast(nn as double) * sxt - cast(xx as double) * snt)"
    den = (
        "sqrt(cast(xx as double) * cast(nn - xx as double)"
        " * (cast(nn as double) * snt2 - cast(snt as double) * snt)"
        " / cast(nn as double))"
    )
    guard = "xx > 0 and xx < nn and k_periods > 1"
    return g.select(
        "k_periods",
        F.col("nn").alias("n_total"),
        F.col("xx").alias("x_total"),
        F.expr(rat_round6_spark("xx", "nn")).alias("share_r6"),
        F.expr(
            f"case when {guard} and {den} > 0.0d"
            f" then round({num} / {den}, 6) end"
        ).alias("trend_z_r6"),
    )


ORACLE_COCHRAN_ARMITAGE = f"""
WITH wk AS (
  SELECT ((({_US_DUCK}) // 86400000000) // 7) AS t,
         CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x_t
  FROM events GROUP BY 1),
norm AS (
  SELECT t - (SELECT MIN(t) FROM wk) + 1 AS ti, n_t, x_t FROM wk),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_periods,
         CAST(SUM(n_t) AS BIGINT) AS nn,
         CAST(SUM(x_t) AS BIGINT) AS xx,
         CAST(SUM(n_t * ti) AS BIGINT) AS snt,
         CAST(SUM(x_t * ti) AS BIGINT) AS sxt,
         CAST(SUM(n_t * ti * ti) AS BIGINT) AS snt2
  FROM norm)
SELECT k_periods, nn AS n_total, xx AS x_total,
       {rat_round6_duck("xx", "nn")} AS share_r6,
       CASE WHEN xx > 0 AND xx < nn AND k_periods > 1
             AND sqrt(CAST(xx AS DOUBLE) * CAST(nn - xx AS DOUBLE)
                      * (CAST(nn AS DOUBLE) * snt2
                         - CAST(snt AS DOUBLE) * snt)
                      / CAST(nn AS DOUBLE)) > 0.0 THEN
         ROUND((CAST(nn AS DOUBLE) * sxt - CAST(xx AS DOUBLE) * snt)
               / sqrt(CAST(xx AS DOUBLE) * CAST(nn - xx AS DOUBLE)
                      * (CAST(nn AS DOUBLE) * snt2
                         - CAST(snt AS DOUBLE) * snt)
                      / CAST(nn AS DOUBLE)), 6)
       END AS trend_z_r6
FROM g
"""


def stats_mcnemar_weekend_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test: does the SAME user purchase on weekends but
    not weekdays (or vice versa)? Unpaired tests confound user mix;
    McNemar conditions on the pair and reads only the DISCORDANT cells
    — b (weekend-only buyers) vs c (weekday-only). χ² = (b−c)²/(b+c) is
    an EXACT rational (no sqrt); the signed z = (b−c)/√(b+c) is one
    Class B sqrt readout. TZ-proof epoch weekday arithmetic.

    Scale: one user-grain agg (two boolean maxes), one 4-cell rollup."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        (F.col("event_type") == "purchase").cast("long").alias("is_p"),
        F.expr(f"((({_US}) div 86400000000) + 3) % 7 >= 5")
        .cast("long").alias("wk"),
    )
    users = ev.groupBy("user_id").agg(
        F.max(F.expr("is_p * (1 - wk)")).alias("wd_buy"),
        F.max(F.expr("is_p * wk")).alias("we_buy"),
    )
    g = users.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.expr("wd_buy * we_buy")).cast("long").alias("both_buy"),
        F.sum(F.expr("wd_buy * (1 - we_buy)")).cast("long")
        .alias("weekday_only"),
        F.sum(F.expr("(1 - wd_buy) * we_buy")).cast("long")
        .alias("weekend_only"),
        F.sum(F.expr("(1 - wd_buy) * (1 - we_buy)")).cast("long")
        .alias("neither"),
    )
    return g.select(
        "n_users",
        "both_buy",
        "weekday_only",
        "weekend_only",
        "neither",
        F.expr(
            "case when weekday_only + weekend_only > 0 then "
            + rat_round6_spark(
                "(weekend_only - weekday_only)"
                " * (weekend_only - weekday_only)",
                "weekend_only + weekday_only",
            )
            + " end"
        ).alias("mcnemar_chi2_r6"),
        F.expr(
            "case when weekday_only + weekend_only > 0 then"
            " round(cast(weekend_only - weekday_only as double)"
            " / sqrt(cast(weekend_only + weekday_only as double)), 6)"
            " end"
        ).alias("z_r6"),
    )


ORACLE_MCNEMAR = f"""
WITH ev AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CASE WHEN ((({_US_DUCK}) // 86400000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS wk
  FROM events),
users AS (
  SELECT user_id, MAX(is_p * (1 - wk)) AS wd_buy,
         MAX(is_p * wk) AS we_buy
  FROM ev GROUP BY 1),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(wd_buy * we_buy) AS BIGINT) AS both_buy,
         CAST(SUM(wd_buy * (1 - we_buy)) AS BIGINT) AS weekday_only,
         CAST(SUM((1 - wd_buy) * we_buy) AS BIGINT) AS weekend_only,
         CAST(SUM((1 - wd_buy) * (1 - we_buy)) AS BIGINT) AS neither
  FROM users)
SELECT n_users, both_buy, weekday_only, weekend_only, neither,
       CASE WHEN weekday_only + weekend_only > 0 THEN
         {rat_round6_duck(
             "(weekend_only - weekday_only)"
             " * (weekend_only - weekday_only)",
             "weekend_only + weekday_only")}
       END AS mcnemar_chi2_r6,
       CASE WHEN weekday_only + weekend_only > 0 THEN
         ROUND(CAST(weekend_only - weekday_only AS DOUBLE)
               / sqrt(CAST(weekend_only + weekday_only AS DOUBLE)), 6)
       END AS z_r6
FROM g
"""


def _bh_z_threshold(p_two_sided: float) -> float:
    """z such that the two-sided normal p-value erfc(z/√2) equals p —
    bisection on math.erfc (monotone), rounded to 6dp. Computed ONCE at
    import and embedded as a LITERAL in both engines' SQL, so no engine
    ever evaluates an inverse CDF."""
    import math

    lo, hi = 0.0, 40.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if math.erfc(mid / math.sqrt(2.0)) > p_two_sided:
            lo = mid
        else:
            hi = mid
    return round((lo + hi) / 2.0, 6)


BH_ALPHA = 0.05
BH_MAX_M = 8
# (m, k) -> z threshold for the BH step-up boundary p <= alpha*k/m
BH_THRESHOLDS = tuple(
    (m, k, _bh_z_threshold(BH_ALPHA * k / m))
    for m in range(1, BH_MAX_M + 1)
    for k in range(1, m + 1)
)


def stats_bh_fdr_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over the per-type weekend-mix
    z family (stats_weekend_mix_ztest's statistics): five simultaneous
    tests at α=0.05 need multiple-testing control, and BH is what every
    experimentation platform applies. The step-up rule runs in z-space
    against PRECOMPUTED threshold literals (z with two-sided p =
    α·k/m, bisected on math.erfc at import, 6dp, identical literal in
    both engines' plans) — no engine evaluates an inverse normal CDF.
    Ranking uses the 6dp-rounded |z| (the hash-stable quantity) with
    event_type tiebreak.

    Scale: the z machinery is one alphabet-bounded agg; BH itself runs
    on ≤|types| rows (a bounded window, alphabet-sized by
    construction)."""
    z = stats_weekend_mix_ztest(spark, sf_dir).select(
        "event_type",
        "n_events",
        F.abs(F.col("z_r6")).alias("abs_z"),
    )
    valid = z.filter(F.col("abs_z").isNotNull())
    m = valid.agg(F.count("*").cast("long").alias("m_tests"))
    wr = W.orderBy(F.desc("abs_z"), F.asc("event_type"))
    ranked = (
        valid.crossJoin(F.broadcast(m))
        .withColumn("bh_rank", F.row_number().over(wr).cast("long"))
    )
    thr = spark.createDataFrame(
        list(BH_THRESHOLDS), "m_tests long, bh_rank long, z_thr double"
    )
    flagged = ranked.join(F.broadcast(thr), ["m_tests", "bh_rank"]).select(
        "event_type",
        "n_events",
        F.round("abs_z", 6).alias("abs_z_r6"),
        "bh_rank",
        "m_tests",
        F.col("z_thr").alias("z_threshold"),
        (F.col("abs_z") >= F.col("z_thr")).alias("passes_own"),
    )
    wall = W.partitionBy("m_tests")  # one bounded family
    kstar = flagged.withColumn(
        "k_star",
        F.max(F.when(F.col("passes_own"), F.col("bh_rank")).otherwise(0))
        .over(wall),
    )
    return kstar.select(
        "event_type",
        "n_events",
        "abs_z_r6",
        "bh_rank",
        "m_tests",
        "z_threshold",
        (F.col("bh_rank") <= F.col("k_star")).alias("rejected"),
    ).orderBy("bh_rank")


def _oracle_bh_fdr() -> str:
    vals = ", ".join(f"({m}, {k}, {z})" for m, k, z in BH_THRESHOLDS)
    return f"""
WITH zt AS (
  SELECT event_type, n_events, abs(z_r6) AS abs_z
  FROM ({ORACLE_WEEKEND_MIX_ZTEST})
  WHERE z_r6 IS NOT NULL),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_tests FROM zt),
ranked AS (
  SELECT event_type, n_events, abs_z, m_tests,
         CAST(ROW_NUMBER() OVER (ORDER BY abs_z DESC, event_type)
              AS BIGINT) AS bh_rank
  FROM zt CROSS JOIN m),
thr AS (SELECT m_tests, bh_rank, CAST(z_thr AS DOUBLE) AS z_thr
        FROM (VALUES {vals}) t(m_tests, bh_rank, z_thr)),
flagged AS (
  SELECT r.event_type, r.n_events, ROUND(r.abs_z, 6) AS abs_z_r6,
         r.bh_rank, r.m_tests, t.z_thr AS z_threshold,
         r.abs_z >= t.z_thr AS passes_own
  FROM ranked r JOIN thr t
    ON r.m_tests = t.m_tests AND r.bh_rank = t.bh_rank),
kstar AS (
  SELECT *, MAX(CASE WHEN passes_own THEN bh_rank ELSE 0 END)
              OVER () AS k_star
  FROM flagged)
SELECT event_type, n_events, abs_z_r6, bh_rank, m_tests, z_threshold,
       bh_rank <= k_star AS rejected
FROM kstar ORDER BY bh_rank
"""


ORACLE_BH_FDR = _oracle_bh_fdr()


ELBOW_KS = (2, 4, 8, 16)


def emb_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means elbow sweep: total inertia after KM_ITERS Lloyd rounds at
    k = 2/4/8/16 — THE cluster-count tuning curve (emb_kmeans_lloyd
    reports the shipped k=16; this says what the OTHER budgets cost,
    which is what you actually look at before picking k). Reuses the
    exact fixed-point kmeans machinery verbatim (2^-20 grid, JVM-fold
    assignment, truncation-division centroid updates, decimal-free r6
    readout), so every cell is bit-reproducible and the whole sweep
    carries a full value-hash oracle (per-k unrolled CTE chains).

    Scale: per (k, iteration) one map-only assignment scan + one
    K×D-bounded exchange — Σk scans total; nothing corpus² anywhere."""
    from .similarity import KM_ITERS, _km_assign, _km_quantized
    from .similarity import _km_r6_spark

    qdf = _km_quantized(spark, sf_dir).localCheckpoint(
        eager=True
    )  # one quantization pass feeds all k sweeps and iterations
    outs = []
    for k in ELBOW_KS:
        seeds = qdf.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
        assert len(seeds) == k and all(
            r["vec_id"] == i for i, r in enumerate(seeds)
        ), f"elbow seeds must be the contiguous vec_ids 0..{k - 1}"
        cent = [[int(v) for v in r["qv"]] for r in seeds]
        assigned = None
        for it in range(KM_ITERS):
            assigned = _km_assign(qdf, cent)
            if it == KM_ITERS - 1:
                break
            sums = (
                assigned.select(
                    "cid", F.posexplode("qv").alias("dim", "v")
                )
                .groupBy("cid", "dim")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .collect()  # bounded: K x D rows
            )
            new_cent = [row[:] for row in cent]
            for r in sums:
                sv, nv = int(r["s"]), int(r["n"])
                # truncation-toward-zero division (DuckDB // semantics)
                new_cent[r["cid"]][r["dim"]] = (
                    sv // nv if sv >= 0 else -((-sv) // nv)
                )
            cent = new_cent
        outs.append(
            assigned.agg(
                F.count("*").cast("long").alias("n_vectors"),
                F.sum("sqdist").cast("long").alias("inertia_q2"),
                F.countDistinct("cid").cast("long").alias("k_used"),
            ).select(
                F.lit(k).cast("long").alias("k"),
                "k_used",
                "n_vectors",
                "inertia_q2",
                F.expr(_km_r6_spark("inertia_q2")).alias("inertia_r6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


def _oracle_kmeans_elbow() -> str:
    from .similarity import EMB_DIM, KM_ITERS, KM_QUANT, _km_r6_duck

    blocks = []
    reads = []
    for k in ELBOW_KS:
        sfx = f"_k{k}"
        parts = [
            f"c0{sfx} AS (SELECT vec_id AS cid, dim, qv AS cv"
            f" FROM q WHERE vec_id < {k})"
        ]
        for it in range(1, KM_ITERS + 1):
            prev = f"c0{sfx}" if it == 1 else f"c{it - 1}{sfx}"
            parts.append(f"""d{it}{sfx} AS (
  SELECT q.vec_id, c.cid,
         CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS d2
  FROM q JOIN {prev} c ON q.dim = c.dim
  GROUP BY 1, 2),
a{it}{sfx} AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rn
    FROM d{it}{sfx}) WHERE rn = 1)""")
            if it < KM_ITERS:
                parts.append(f"""s{it}{sfx} AS (
  SELECT a.cid, q.dim, SUM(q.qv) AS s, COUNT(*) AS n
  FROM a{it}{sfx} a JOIN q ON a.vec_id = q.vec_id
  GROUP BY 1, 2),
c{it}{sfx} AS (
  SELECT p.cid, p.dim,
         COALESCE(CAST(s{it}{sfx}.s // s{it}{sfx}.n AS BIGINT), p.cv) AS cv
  FROM {prev} p LEFT JOIN s{it}{sfx}
    ON p.cid = s{it}{sfx}.cid AND p.dim = s{it}{sfx}.dim)""")
        blocks.append(",\n".join(parts))
        q2 = "CAST(SUM(d2) AS BIGINT)"
        reads.append(
            f"SELECT CAST({k} AS BIGINT) AS k,"
            f" CAST(COUNT(DISTINCT cid) AS BIGINT) AS k_used,"
            f" CAST(COUNT(*) AS BIGINT) AS n_vectors,"
            f" {q2} AS inertia_q2,"
            f" {_km_r6_duck(q2)} AS inertia_r6"
            f" FROM a{KM_ITERS}{sfx}"
        )
    body = ",\n".join(blocks)
    union = "\nUNION ALL\n".join(reads)
    return f"""
WITH dims AS (SELECT unnest(range({EMB_DIM})) AS dim),
q AS (
  SELECT e.vec_id, d.dim,
         CAST(TRUNC(CAST(e.embedding[d.dim + 1] AS DOUBLE)
                    * {KM_QUANT!r}) AS BIGINT) AS qv
  FROM embeddings e CROSS JOIN dims d),
{body}
SELECT * FROM ({union}) ORDER BY k
"""


ORACLE_KMEANS_ELBOW = _oracle_kmeans_elbow()


SCALE_PCTS = (25, 50, 100)


def sim_lsh_recall_by_corpus_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does LSH recall DEGRADE as the corpus grows? The production ANN
    question every capacity review asks: buckets get denser at scale,
    so recall measured on today's corpus says little about next
    quarter's. This op measures exact recall@{TOP_K} of the shipped
    16-table LSH config on deterministic md5 subsamples of the corpus
    (25% / 50% / 100%, probes always retained) — the scaling CURVE, on
    the real index machinery, fully value-hashed (md5 planes + exact
    cosine + vec_id tie-breaks are deterministic end to end).

    Scale: the LSH candidate stream is computed ONCE and checkpointed;
    each subsample is a filter over it. The exact baseline is the
    broadcast-probe brute pass (probes bounded at {N_QUERIES}) — the
    audit tier a production system runs on a sampled probe set, not
    per query."""
    from .similarity import (
        N_QUERIES,
        TOP_K,
        _cosine_expr,
        _lsh_candidate_pairs,
    )

    emb = _emb(spark, sf_dir)
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    # r15 fold (guide §1.2 "remove unnecessary passes"): the old form looped
    # the three scales, so the LSH join+cosine and the brute exact pass each
    # ran 3× over 25/50/100% of the corpus (1.75× full-corpus work apiece)
    # with an eager checkpoint per scale (plus one for the shared candidate
    # stream). One pass now scores each pair ONCE and explodes it into the
    # scales whose subsample contains it; the per-scale top-k windows become
    # ONE window partitioned by (scale, qid). Per-scale row sets are
    # identical by construction (same membership predicate, same sim
    # expression, same deterministic tie-break), so the output is provably
    # unchanged — re-verified against the oracle at 3 SFs.
    scale_list = ", ".join(str(s) for s in SCALE_PCTS)
    in_scales = F.expr(
        f"filter(array({scale_list}), s -> vec_id < {N_QUERIES} or "
        f"cast(conv(substring(md5(concat('scale:', "
        f"cast(vec_id as string))), 1, 7), 16, 10) as bigint) % 100 < s)"
    )

    nc = (
        emb.select(F.explode(in_scales).alias("s"))
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("n_corpus"))
    )
    wq = W.partitionBy("s", "qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    # The scale-membership array rides along as a tiny (≤3-int) column and
    # is exploded only AFTER the cosine, so each pair is scored exactly once.
    lsh = (
        pairs.withColumn("ss", in_scales)
        .join(F.broadcast(qv), "qid")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("sim", _cosine_expr())
        .select("qid", "vec_id", "sim", F.explode("ss").alias("s"))
    )
    ltop = (
        lsh.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= TOP_K)
        .select("s", "qid", "vec_id")
    )
    exact = (
        emb.select("vec_id", "embedding", in_scales.alias("ss"))
        .join(F.broadcast(qv), F.col("vec_id") != F.col("qid"))
        .withColumn("sim", _cosine_expr())
        .select("qid", "vec_id", "sim", F.explode("ss").alias("s"))
    )
    etop = (
        exact.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= TOP_K)
        .select("s", "qid", "vec_id")
        .localCheckpoint(eager=True)  # bounded (scales × queries × k);
    )  # feeds the base count + the overlap join
    base = etop.groupBy("s").agg(F.count("*").cast("long").alias("n_base"))
    ov = (
        ltop.join(etop, ["s", "qid", "vec_id"])
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    spine = spark.createDataFrame([(s,) for s in SCALE_PCTS], "s int")
    return (
        spine.join(nc, "s", "left")
        .join(base, "s", "left")
        .join(ov, "s", "left")
        .select(
            F.col("s").cast("long").alias("scale_pct"),
            F.coalesce("n_corpus", F.lit(0)).cast("long").alias("n_corpus"),
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(
                "case when coalesce(n_base, 0) > 0 then "
                + rat_round6_spark("coalesce(n_overlap, 0)", "n_base")
                + " end"
            ).alias("recall_r6"),
        )
        .orderBy("scale_pct")
    )


def _oracle_lsh_recall_by_scale() -> str:
    from .similarity import _LSH_CAND_CTES, N_QUERIES, TOP_K

    scales = ", ".join(str(s) for s in SCALE_PCTS)
    return f"""
WITH {_LSH_CAND_CTES},
scales AS (SELECT unnest([{scales}]) AS s),
samp AS (
  SELECT sc.s, e.vec_id
  FROM e CROSS JOIN scales sc
  WHERE e.vec_id < {N_QUERIES}
     OR CAST(('0x' || substr(md5('scale:' || e.vec_id), 1, 7)) AS BIGINT)
        % 100 < sc.s),
ls AS (
  SELECT sa.s, c.qid, c.vec_id,
         list_cosine_similarity(eq.emb, ev.emb) AS sim
  FROM cand c
  JOIN samp sa ON sa.vec_id = c.vec_id
  JOIN e eq ON eq.vec_id = c.qid
  JOIN e ev ON ev.vec_id = c.vec_id),
ltop AS (
  SELECT s, qid, vec_id FROM (
    SELECT s, qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY s, qid
                              ORDER BY sim DESC, vec_id) AS rk
    FROM ls) WHERE rk <= {TOP_K}),
ex AS (
  SELECT sa.s, q.vec_id AS qid, sa.vec_id,
         list_cosine_similarity(q.emb, ev.emb) AS sim
  FROM e q
  JOIN samp sa ON sa.vec_id != q.vec_id
  JOIN e ev ON ev.vec_id = sa.vec_id
  WHERE q.vec_id < {N_QUERIES}),
etop AS (
  SELECT s, qid, vec_id FROM (
    SELECT s, qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY s, qid
                              ORDER BY sim DESC, vec_id) AS rk
    FROM ex) WHERE rk <= {TOP_K}),
nc AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_corpus
       FROM samp GROUP BY 1),
base AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_base
         FROM etop GROUP BY 1),
ov AS (
  SELECT t.s, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM ltop t JOIN etop x
    ON t.s = x.s AND t.qid = x.qid AND t.vec_id = x.vec_id
  GROUP BY 1)
SELECT nc.s AS scale_pct, nc.n_corpus, base.n_base,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       CASE WHEN base.n_base > 0 THEN
         {rat_round6_duck("COALESCE(ov.n_overlap, 0)", "base.n_base")}
       END AS recall_r6
FROM nc JOIN base ON nc.s = base.s LEFT JOIN ov ON nc.s = ov.s
ORDER BY scale_pct
"""


ORACLE_LSH_RECALL_BY_SCALE = _oracle_lsh_recall_by_scale()


# --------------------------------------------------------------------------
# Batch P (r14 continuation; r15 window backlog): scalar-quantization
# bits sweep, Simpson's-paradox probe, lead-lag cross-correlation,
# weekend QTE deciles, ANN rank-quality metrics, shingle-size sweep
# --------------------------------------------------------------------------

SQ_BITS = (2, 4, 6, 8)


def emb_sq_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization bit-width sweep: reconstruction RMSE and clip
    counts at 2/4/6/8 bits per dimension on the canonical 2^-20 grid —
    the int4-vs-int8 sizing table (emb_quantize_int8 ships one config;
    this is the decision curve, the SQ sibling of emb_pq_distortion).
    Quantization is truncation-toward-zero level assignment with
    symmetric clamp (DuckDB ``//`` semantics on both engines); errors
    are exact integers, squared into a DECIMAL sum (BIGINT would
    overflow at ~100x the fixtures), and RMSE is one Class B sqrt.

    Scale: map-only per-dimension fan-out (no shuffle until the
    4-row agg); at 100 TB this is one pass over the vectors."""
    vals = _emb(spark, sf_dir).select(
        F.posexplode(F.expr(_EMB_Q_SQL)).alias("dim", "g")
    ).select(
        "g", F.explode(F.array(*[F.lit(b) for b in SQ_BITS])).alias("bits")
    )
    step = "cast(pow(2, 21 - bits) as bigint)"
    half = "cast(pow(2, bits - 1) as bigint)"
    t = vals.select(
        "bits",
        "g",
        F.expr(f"greatest(least(g div {step}, {half} - 1), -{half})")
        .alias("lvl"),
        F.expr(f"(g div {step} > {half} - 1) or (g div {step} < -{half})")
        .cast("long").alias("clipped"),
    ).select(
        "bits",
        "clipped",
        F.expr(f"abs(g - lvl * {step})").alias("err"),
    )
    g = t.groupBy("bits").agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        F.sum(F.expr("cast(err * err as decimal(38,0))")).alias("sq"),
    )
    return g.select(
        F.col("bits").cast("long").alias("bits"),
        "n_values",
        "n_clipped",
        F.expr(rat_round6_spark("n_clipped", "n_values")).alias(
            "clip_share_r6"
        ),
        F.expr(
            "round(sqrt(cast(sq as double) / cast(n_values as double))"
            " / 1048576.0, 6)"
        ).alias("rmse_r6"),
    ).orderBy("bits")


ORACLE_SQ_BITS = f"""
WITH g AS (
  SELECT CAST(trunc(CAST(x.v AS DOUBLE) * 1048576.0) AS BIGINT) AS g
  FROM embeddings e, LATERAL unnest(e.embedding) AS x(v)),
t AS (
  SELECT b.bits, g.g,
         CAST(pow(2, 21 - b.bits) AS BIGINT) AS step,
         CAST(pow(2, b.bits - 1) AS BIGINT) AS half
  FROM g CROSS JOIN (SELECT unnest([{", ".join(str(b) for b in SQ_BITS)}])
                     AS bits) b),
q AS (
  SELECT bits,
         CASE WHEN (g // step > half - 1) OR (g // step < -half)
              THEN 1 ELSE 0 END AS clipped,
         abs(g - greatest(least(g // step, half - 1), -half) * step)
           AS err
  FROM t),
agg AS (
  SELECT CAST(bits AS BIGINT) AS bits,
         CAST(COUNT(*) AS BIGINT) AS n_values,
         CAST(SUM(clipped) AS BIGINT) AS n_clipped,
         SUM(CAST(err * err AS DECIMAL(38,0))) AS sq
  FROM q GROUP BY 1)
SELECT bits, n_values, n_clipped,
       {rat_round6_duck("n_clipped", "n_values")} AS clip_share_r6,
       ROUND(sqrt(CAST(sq AS DOUBLE) / CAST(n_values AS DOUBLE))
             / 1048576.0, 6) AS rmse_r6
FROM agg ORDER BY bits
"""


def stats_simpson_paradox_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox / aggregation-reversal audit on the weekend
    value lift: the OVERALL weekend-vs-weekday mean event value can
    carry the opposite sign of EVERY per-type difference when the type
    mix shifts across the week — the classic way a dashboard headline
    lies. Per type: both group means (exact rationals), the diff (one
    IEEE subtraction of exact 1e-6 multiples — the jackknife pattern;
    the direct cross-multiplied 6dp rational overflows BIGINT), SIGN
    comparisons on exact cross-multiplied integers (no rounding in the
    verdict), and the global paradox flag (all types reverse vs the
    pooled sign).

    Scale: one (type, weekend) agg — alphabet×2 rows — then
    constant-size arithmetic; the global flag is a 1-row broadcast."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(_CENTS).alias("cents"),
        F.expr(f"((({_US}) div 86400000000) + 3) % 7 >= 5")
        .cast("long").alias("wk"),
    )
    per = ev.groupBy("event_type").agg(
        F.sum(F.expr("cents * (1 - wk)")).cast("long").alias("s0"),
        F.sum(F.expr("1 - wk")).cast("long").alias("n0"),
        F.sum(F.expr("cents * wk")).cast("long").alias("s1"),
        F.sum("wk").cast("long").alias("n1"),
    )
    tot = per.agg(
        F.sum("s0").cast("long").alias("ts0"),
        F.sum("n0").cast("long").alias("tn0"),
        F.sum("s1").cast("long").alias("ts1"),
        F.sum("n1").cast("long").alias("tn1"),
    )
    gsign = "sign(s1 * n0 - s0 * n1)"
    osign = "sign(ts1 * tn0 - ts0 * tn1)"
    joined = per.crossJoin(F.broadcast(tot)).filter(
        "n0 > 0 and n1 > 0"
    )
    flagged = joined.select(
        "event_type",
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        F.expr(rat_round6_spark("s0", "n0")).alias("wd_mean_r6"),
        F.expr(rat_round6_spark("s1", "n1")).alias("we_mean_r6"),
        F.expr(
            "round(" + rat_round6_spark("s1", "n1") + " - "
            + rat_round6_spark("s0", "n0") + ", 6)"
        ).alias("group_diff_r6"),
        F.expr(
            "round(" + rat_round6_spark("ts1", "tn1") + " - "
            + rat_round6_spark("ts0", "tn0") + ", 6)"
        ).alias("overall_diff_r6"),
        F.expr(f"cast({gsign} as long)").alias("group_sign"),
        F.expr(f"cast({osign} as long)").alias("overall_sign"),
        F.expr(f"{gsign} != 0 and {osign} != 0 and {gsign} != {osign}")
        .alias("reverses_overall"),
    )
    allrev = flagged.agg(
        F.min(F.col("reverses_overall").cast("long")).cast("long")
        .alias("minrev")
    )
    return (
        flagged.crossJoin(F.broadcast(allrev))
        .select(
            "event_type",
            "n_weekday",
            "n_weekend",
            "wd_mean_r6",
            "we_mean_r6",
            "group_diff_r6",
            "overall_diff_r6",
            "group_sign",
            "overall_sign",
            "reverses_overall",
            (F.col("minrev") == 1).alias("simpson_paradox"),
        )
        .orderBy("event_type")
    )


ORACLE_SIMPSON = f"""
WITH ev AS (
  SELECT event_type, {_CENTS_DUCK} AS cents,
         CASE WHEN ((({_US_DUCK}) // 86400000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS wk
  FROM events),
per AS (
  SELECT event_type,
         CAST(SUM(cents * (1 - wk)) AS BIGINT) AS s0,
         CAST(SUM(1 - wk) AS BIGINT) AS n0,
         CAST(SUM(cents * wk) AS BIGINT) AS s1,
         CAST(SUM(wk) AS BIGINT) AS n1
  FROM ev GROUP BY 1),
tot AS (
  SELECT CAST(SUM(s0) AS BIGINT) AS ts0, CAST(SUM(n0) AS BIGINT) AS tn0,
         CAST(SUM(s1) AS BIGINT) AS ts1, CAST(SUM(n1) AS BIGINT) AS tn1
  FROM per),
flagged AS (
  SELECT event_type, n0 AS n_weekday, n1 AS n_weekend,
         {rat_round6_duck("s0", "n0")} AS wd_mean_r6,
         {rat_round6_duck("s1", "n1")} AS we_mean_r6,
         ROUND({rat_round6_duck("s1", "n1")}
               - {rat_round6_duck("s0", "n0")}, 6) AS group_diff_r6,
         ROUND({rat_round6_duck("ts1", "tn1")}
               - {rat_round6_duck("ts0", "tn0")}, 6) AS overall_diff_r6,
         CAST(sign(s1 * n0 - s0 * n1) AS BIGINT) AS group_sign,
         CAST(sign(ts1 * tn0 - ts0 * tn1) AS BIGINT) AS overall_sign,
         sign(s1 * n0 - s0 * n1) != 0 AND sign(ts1 * tn0 - ts0 * tn1) != 0
           AND sign(s1 * n0 - s0 * n1) != sign(ts1 * tn0 - ts0 * tn1)
           AS reverses_overall
  FROM per CROSS JOIN tot WHERE n0 > 0 AND n1 > 0),
allrev AS (
  SELECT CAST(MIN(CASE WHEN reverses_overall THEN 1 ELSE 0 END)
              AS BIGINT) AS minrev
  FROM flagged)
SELECT event_type, n_weekday, n_weekend, wd_mean_r6, we_mean_r6,
       group_diff_r6, overall_diff_r6, group_sign, overall_sign,
       reverses_overall, minrev = 1 AS simpson_paradox
FROM flagged CROSS JOIN allrev ORDER BY event_type
"""


XCORR_LAGS = (0, 1, 2)


def ev_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation of hourly event-type loads: Pearson r
    between type A's hour-t count and type B's hour-(t+lag) count for
    every ordered type pair at lags 0/1/2 — "do clicks LEAD purchases
    by an hour?" is the ops/funnel question the lag-0 correlation
    matrix (ev_type_hourly_corr_matrix) cannot answer. Exact integer
    moment sums over the hours present on BOTH sides of the shifted
    join (the periodicity-probe arithmetic); one Class B round.

    Scale: the fact stream reduces to the (type, hour) frame
    (calendar×alphabet-bounded); the shifted self-join and the moment
    aggs run entirely on that bounded frame."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.expr(f"({_US}) div 3600000000").alias("hr")
    )
    h = ev.groupBy("event_type", "hr").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=True)  # bounded frame feeds both join sides
    a = h.select(
        F.col("event_type").alias("type_a"),
        F.col("hr"),
        F.col("c").alias("x"),
    )
    lags = spark.createDataFrame([(l,) for l in XCORR_LAGS], "lag long")
    b = h.crossJoin(F.broadcast(lags)).select(
        F.col("event_type").alias("type_b"),
        (F.col("hr") - F.col("lag")).alias("hr"),
        F.col("lag"),
        F.col("c").alias("y"),
    )
    j = a.join(b, "hr").filter(F.col("type_a") != F.col("type_b"))
    g = j.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    num = "(cast(np as double) * sxy - cast(sx as double) * sy)"
    denx = "(cast(np as double) * sxx - cast(sx as double) * sx)"
    deny = "(cast(np as double) * syy - cast(sy as double) * sy)"
    return g.select(
        "type_a",
        "type_b",
        "lag",
        F.col("np").alias("n_hours"),
        F.expr(
            f"case when np > 1 and {denx} > 0.0d and {deny} > 0.0d then"
            f" round({num} / (sqrt({denx}) * sqrt({deny})), 6) end"
        ).alias("r_r6"),
    ).orderBy("type_a", "type_b", "lag")


ORACLE_LEAD_LAG = f"""
WITH h AS (
  SELECT event_type, ({_US_DUCK}) // 3600000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
lags AS (SELECT CAST(unnest([{", ".join(str(l) for l in XCORR_LAGS)}])
                AS BIGINT) AS lag),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         a.c AS x, b.c AS y
  FROM h a
  CROSS JOIN lags l
  JOIN h b ON b.hr = a.hr + l.lag AND a.event_type != b.event_type),
g AS (
  SELECT type_a, type_b, lag, CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM j GROUP BY 1, 2, 3)
SELECT type_a, type_b, lag, np AS n_hours,
       CASE WHEN np > 1
             AND CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0.0
             AND CAST(np AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0.0
       THEN ROUND((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (sqrt(CAST(np AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx)
                     * sqrt(CAST(np AS DOUBLE) * syy
                            - CAST(sy AS DOUBLE) * sy)), 6)
       END AS r_r6
FROM g ORDER BY type_a, type_b, lag
"""


QTE_QS = (10, 30, 50, 70, 90)


def stats_qte_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect of the weekend on event value: the
    decile-by-decile difference between the weekend and weekday value
    distributions — a mean lift can hide that only the TAIL moves (the
    distributional question behind pricing/promo reads). Exact type-1
    percentiles (rank = (q·n + 99) div 100 under the (cents, event_id)
    total order — never quantile_cont) in integer cents; the QTE is an
    integer difference.

    Scale: the exact-percentile posture — one window per group (TWO
    corpus-sized partitions with a fixed-width integer sort key), one
    5-row pivot."""
    ev = _events(spark, sf_dir).select(
        F.expr(_CENTS).alias("cents"),
        "event_id",
        F.expr(f"((({_US}) div 86400000000) + 3) % 7 >= 5")
        .cast("long").alias("wk"),
    )
    wr = W.partitionBy("wk").orderBy("cents", "event_id")
    wn = W.partitionBy("wk")
    ranked = ev.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    hits = ranked.select(
        "wk",
        "cents",
        F.explode(
            F.array(*[F.lit(q) for q in QTE_QS])
        ).alias("q"),
        "rn",
        "n",
    ).filter(F.expr("rn = (q * n + 99) div 100"))
    return (
        hits.groupBy("q")
        .agg(
            F.min(F.when(F.col("wk") == 0, F.col("cents")))
            .cast("long").alias("wd_cents"),
            F.min(F.when(F.col("wk") == 1, F.col("cents")))
            .cast("long").alias("we_cents"),
        )
        .select(
            F.col("q").cast("long").alias("q_pct"),
            "wd_cents",
            "we_cents",
            (F.col("we_cents") - F.col("wd_cents")).alias("qte_cents"),
        )
        .orderBy("q_pct")
    )


ORACLE_QTE = f"""
WITH ev AS (
  SELECT {_CENTS_DUCK} AS cents, event_id,
         CASE WHEN ((({_US_DUCK}) // 86400000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS wk
  FROM events),
ranked AS (
  SELECT wk, cents,
         ROW_NUMBER() OVER (PARTITION BY wk
                            ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY wk) AS n
  FROM ev),
hits AS (
  SELECT wk, cents, q.q
  FROM ranked,
       (SELECT unnest([{", ".join(str(q) for q in QTE_QS)}]) AS q) q
  WHERE rn = (q.q * n + 99) // 100)
SELECT CAST(q AS BIGINT) AS q_pct,
       CAST(MIN(CASE WHEN wk = 0 THEN cents END) AS BIGINT) AS wd_cents,
       CAST(MIN(CASE WHEN wk = 1 THEN cents END) AS BIGINT) AS we_cents,
       CAST(MIN(CASE WHEN wk = 1 THEN cents END)
            - MIN(CASE WHEN wk = 0 THEN cents END) AS BIGINT) AS qte_cents
FROM hits GROUP BY 1 ORDER BY q_pct
"""


def sim_ann_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality metrics of the shipped LSH index beyond recall:
    MRR@k (how early does the first true neighbor appear in the ANN
    list) and mean nDCG@k (how well the whole list is ordered) against
    the exact top-{TOP_K} as binary relevance — what a retrieval
    quality review actually reports. Every per-rank term (1/r,
    1/log2(r+1)) is 9dp-rounded into the house DECIMAL sum, so the
    order-dependent float-sum hazard never appears; logs of small
    integers are Class B deterministic.

    Scale: the LSH ranking is the production candidate stream; the
    exact baseline is the bounded broadcast-probe brute pass (audit
    tier, probes ≤ {N_QUERIES})."""
    from .similarity import (
        N_QUERIES,
        TOP_K,
        _cosine_expr,
        sim_ann_lsh,
    )

    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    exact = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qv), F.col("vec_id") != F.col("qid"))
        .withColumn("sim", _cosine_expr())
    )
    wq = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    etop = (
        exact.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= TOP_K)
        .select("qid", "vec_id")
        .localCheckpoint(eager=True)  # feeds rel-join + per-qid counts
    )
    nrel = etop.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_rel")
    )
    ltop = sim_ann_lsh(spark, sf_dir).select("qid", "rank", "vec_id")
    rel = ltop.join(etop, ["qid", "vec_id"]).select("qid", "rank")
    per_q = (
        rel.groupBy("qid")
        .agg(
            F.count("*").cast("long").alias("hits"),
            F.min("rank").cast("long").alias("first_rel"),
            F.sum(
                F.round(
                    F.expr("ln(2.0d) / ln(cast(rank + 1 as double))"), 9
                ).cast("decimal(38,9)")
            ).alias("dcg"),
        )
        .join(nrel, "qid", "right")
        .select(
            "qid",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            "first_rel",
            F.coalesce(F.col("dcg"), F.lit(0).cast("decimal(38,9)"))
            .alias("dcg"),
            "n_rel",
        )
        .withColumn(
            "idcg",
            # the fold accumulator must be re-cast each step: Spark's
            # decimal-addition widening turns (20,9)+(20,9) into (21,9)
            # and the lambda then mismatches the accumulator type
            F.expr(
                f"aggregate(sequence(1, least(cast(n_rel as int),"
                f" {TOP_K})), cast(0 as decimal(20,9)),"
                " (acc, i) -> cast(acc + cast(round(ln(2.0d)"
                " / ln(cast(i + 1 as double)), 9) as decimal(20,9))"
                " as decimal(20,9)))"
            ).cast("decimal(38,9)"),
        )
    )
    g = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("hits").cast("long").alias("n_hits"),
        F.sum("n_rel").cast("long").alias("n_rel_total"),
        F.sum(
            F.when(
                F.col("first_rel").isNotNull(),
                F.round(
                    F.expr("1.0d / cast(first_rel as double)"), 9
                ).cast("decimal(38,9)"),
            ).otherwise(F.lit(0).cast("decimal(38,9)"))
        ).alias("srr"),
        F.sum(
            F.when(
                F.col("idcg") > 0,
                F.round(
                    F.expr("cast(dcg as double) / cast(idcg as double)"),
                    9,
                ).cast("decimal(38,9)"),
            ).otherwise(F.lit(0).cast("decimal(38,9)"))
        ).alias("sndcg"),
    )
    return g.select(
        "n_queries",
        "n_hits",
        F.expr(rat_round6_spark("n_hits", "n_rel_total"))
        .alias("recall_r6"),
        F.expr(
            "round(cast(srr as double) / cast(n_queries as double), 6)"
        ).alias("mrr_r6"),
        F.expr(
            "round(cast(sndcg as double) / cast(n_queries as double), 6)"
        ).alias("mean_ndcg_r6"),
    )


def _oracle_ann_rank_quality() -> str:
    from .similarity import _LSH_CAND_CTES, N_QUERIES, TOP_K

    return f"""
WITH {_LSH_CAND_CTES},
ls AS (
  SELECT c.qid, c.vec_id,
         list_cosine_similarity(eq.emb, ev.emb) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.qid
  JOIN e ev ON ev.vec_id = c.vec_id),
ltop AS (
  SELECT qid, vec_id, rank FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id) AS rank
    FROM ls) WHERE rank <= {TOP_K}),
ex AS (
  SELECT q.vec_id AS qid, ev.vec_id,
         list_cosine_similarity(q.emb, ev.emb) AS sim
  FROM e q JOIN e ev ON ev.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
etop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id) AS rk
    FROM ex) WHERE rk <= {TOP_K}),
nrel AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel
         FROM etop GROUP BY 1),
rel AS (
  SELECT l.qid, l.rank
  FROM ltop l JOIN etop x ON l.qid = x.qid AND l.vec_id = x.vec_id),
per_q0 AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
         CAST(MIN(rank) AS BIGINT) AS first_rel,
         SUM(CAST(ROUND(ln(2.0) / ln(CAST(rank + 1 AS DOUBLE)), 9)
                  AS DECIMAL(38,9))) AS dcg
  FROM rel GROUP BY 1),
per_q AS (
  SELECT n.qid, COALESCE(p.hits, 0) AS hits, p.first_rel,
         COALESCE(p.dcg, CAST(0 AS DECIMAL(38,9))) AS dcg, n.n_rel,
         (SELECT SUM(CAST(ROUND(ln(2.0) / ln(CAST(i + 1 AS DOUBLE)), 9)
                          AS DECIMAL(38,9)))
          FROM unnest(range(1, least(n.n_rel, {TOP_K}) + 1)) AS t(i))
           AS idcg
  FROM nrel n LEFT JOIN per_q0 p ON n.qid = p.qid),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(hits) AS BIGINT) AS n_hits,
         CAST(SUM(n_rel) AS BIGINT) AS n_rel_total,
         SUM(CASE WHEN first_rel IS NOT NULL THEN
               CAST(ROUND(1.0 / CAST(first_rel AS DOUBLE), 9)
                    AS DECIMAL(38,9))
             ELSE CAST(0 AS DECIMAL(38,9)) END) AS srr,
         SUM(CASE WHEN idcg > 0 THEN
               CAST(ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 9)
                    AS DECIMAL(38,9))
             ELSE CAST(0 AS DECIMAL(38,9)) END) AS sndcg
  FROM per_q)
SELECT n_queries, n_hits,
       {rat_round6_duck("n_hits", "n_rel_total")} AS recall_r6,
       ROUND(CAST(srr AS DOUBLE) / CAST(n_queries AS DOUBLE), 6)
         AS mrr_r6,
       ROUND(CAST(sndcg AS DOUBLE) / CAST(n_queries AS DOUBLE), 6)
         AS mean_ndcg_r6
FROM g
"""


ORACLE_ANN_RANK_QUALITY = _oracle_ann_rank_quality()


SHINGLE_KS = (2, 3, 4)


def dedup_shingle_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-size tuning sweep for the word-n-gram Jaccard near-dup
    screen: candidate-pair volume and τ-passing pair yield at n = 2/3/4
    — shorter shingles recall more but explode the candidate stream
    (dedup_threshold_sweep sweeps τ at fixed n; this sweeps n at fixed
    τ — together they span the config plane). Runs the REAL
    inverted-index machinery (_pair_sims: DF-pruned postings, in-bucket
    pair expansion) per size; the τ-passing mean Jaccard enters the
    house round-9 DECIMAL sum.

    Scale: per size one postings groupBy (the production posture —
    candidate pairs bounded by Σ C(df, 2) under the MAX_DF prune);
    sizes are a constant ×3 factor, never a data-dependent blowup."""
    from .dedup import JACCARD_TAU, _docs_par, _pair_sims
    from ..functions.texts import word_ngrams

    docs = _docs_par(spark, sf_dir).localCheckpoint(
        eager=True
    )  # one doc scan feeds all three shingle sizes
    outs = []
    for k in SHINGLE_KS:
        sh = docs.select(
            "doc_id", F.explode(word_ngrams("text", k)).alias("sh")
        )
        ps = _pair_sims(sh).withColumn(
            "jaccard",
            F.col("inter") * 1.0
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        outs.append(
            ps.agg(
                F.count("*").cast("long").alias("n_candidate_pairs"),
                F.sum(
                    (F.col("jaccard") >= JACCARD_TAU).cast("long")
                ).cast("long").alias("n_pairs_tau"),
                F.sum(
                    F.when(
                        F.col("jaccard") >= JACCARD_TAU,
                        F.round(F.col("jaccard"), 9)
                        .cast("decimal(38,9)"),
                    ).otherwise(F.lit(0).cast("decimal(38,9)"))
                ).alias("sj"),
            ).select(
                F.lit(k).cast("long").alias("shingle_n"),
                "n_candidate_pairs",
                "n_pairs_tau",
                F.expr(
                    "case when n_pairs_tau > 0 then"
                    " round(cast(sj as double)"
                    " / cast(n_pairs_tau as double), 6) end"
                ).alias("mean_jaccard_tau_r6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("shingle_n")


def _oracle_shingle_sweep() -> str:
    from .dedup import JACCARD_TAU, MAX_DF

    reads = []
    for k in SHINGLE_KS:
        terms = " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))
        reads.append(f"""
  SELECT CAST({k} AS BIGINT) AS shingle_n,
         CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
         CAST(SUM(CASE WHEN jaccard >= {JACCARD_TAU} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pairs_tau,
         CASE WHEN SUM(CASE WHEN jaccard >= {JACCARD_TAU} THEN 1
                            ELSE 0 END) > 0 THEN
           ROUND(CAST(SUM(CASE WHEN jaccard >= {JACCARD_TAU} THEN
                            CAST(ROUND(jaccard, 9) AS DECIMAL(38,9))
                          ELSE CAST(0 AS DECIMAL(38,9)) END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN jaccard >= {JACCARD_TAU} THEN 1
                            ELSE 0 END) AS DOUBLE), 6)
         END AS mean_jaccard_tau_r6
  FROM (
    SELECT inter * 1.0 / (x.n + y.n - inter) AS jaccard
    FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM pruned_k{k} a JOIN pruned_k{k} b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2) p
    JOIN sz_k{k} x ON doc_a = x.doc_id
    JOIN sz_k{k} y ON doc_b = y.doc_id)""")
    ctes = []
    for k in SHINGLE_KS:
        terms = " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))
        ctes.append(f"""g_k{k} AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= {k} THEN {terms}
              ELSE text END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents),
       LATERAL unnest(generate_series(1, greatest(len(ws) - {k - 1}, 1)))
         AS u(i)),
gs_k{k} AS (SELECT DISTINCT doc_id, sh FROM g_k{k}),
pruned_k{k} AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
    FROM gs_k{k})
  WHERE df <= {MAX_DF}),
sz_k{k} AS (SELECT doc_id, COUNT(*) AS n FROM pruned_k{k} GROUP BY 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT * FROM ("
        + "\nUNION ALL\n".join(reads)
        + ") ORDER BY shingle_n"
    )


ORACLE_SHINGLE_SWEEP = _oracle_shingle_sweep()


# --------------------------------------------------------------------------
# Batch Q (r14 continuation; r15 window backlog): weekend-effect
# heterogeneity (meta-analytic Q/I²), Cohen's d effect sizes,
# interrupted time series, length-vs-dup bias, binary-seg changepoint
# --------------------------------------------------------------------------


def _weekend_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (event_type × weekend) cell moments: n, Σcents, Σcents² —
    exact integers feeding the heterogeneity and effect-size readouts."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(_CENTS).alias("cents"),
        F.expr(f"((({_US}) div 86400000000) + 3) % 7 >= 5")
        .cast("long").alias("wk"),
    )
    return ev.groupBy("event_type").agg(
        F.sum(F.expr("1 - wk")).cast("long").alias("n0"),
        F.sum(F.expr("cents * (1 - wk)")).cast("long").alias("s0"),
        F.sum(F.expr("cents * cents * (1 - wk)")).cast("long").alias("q0"),
        F.sum("wk").cast("long").alias("n1"),
        F.sum(F.expr("cents * wk")).cast("long").alias("s1"),
        F.sum(F.expr("cents * cents * wk")).cast("long").alias("q1"),
    )


_WEEKEND_CELLS_DUCK = f"""
  SELECT event_type,
         CAST(SUM(1 - wk) AS BIGINT) AS n0,
         CAST(SUM(cents * (1 - wk)) AS BIGINT) AS s0,
         CAST(SUM(cents * cents * (1 - wk)) AS BIGINT) AS q0,
         CAST(SUM(wk) AS BIGINT) AS n1,
         CAST(SUM(cents * wk) AS BIGINT) AS s1,
         CAST(SUM(cents * cents * wk) AS BIGINT) AS q1
  FROM (SELECT event_type, {_CENTS_DUCK} AS cents,
               CASE WHEN ((({_US_DUCK}) // 86400000000) + 3) % 7 >= 5
                    THEN 1 ELSE 0 END AS wk
        FROM events)
  GROUP BY 1
"""

# per-type weekend effect and its variance, as deterministic double
# fragments over the exact integer cell moments (sample variances via
# (n·Σx² − (Σx)²) / (n·(n−1)))
_D_I = (
    "(cast(s1 as double) / cast(n1 as double)"
    " - cast(s0 as double) / cast(n0 as double))"
)
_V1 = (
    "((cast(n1 as double) * q1 - cast(s1 as double) * s1)"
    " / (cast(n1 as double) * (n1 - 1)))"
)
_V0 = (
    "((cast(n0 as double) * q0 - cast(s0 as double) * s0)"
    " / (cast(n0 as double) * (n0 - 1)))"
)
_VI = f"({_V1} / n1 + {_V0} / n0)"
_CELL_GUARD = "n0 > 1 and n1 > 1"


def stats_weekend_effect_heterogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Is the weekend value effect HOMOGENEOUS across event types? The
    meta-analytic heterogeneity readout (Cochran's Q, I²) over the
    per-type mean differences — the interaction question a two-way
    ANOVA asks, in the unbalanced-robust inverse-variance form every
    meta-analysis uses: Q = Σ w_i (d_i − d̄_w)², w_i = 1/v_i,
    d̄_w = Σw_i d_i / Σw_i; I² = max(0, (Q − (k−1))/Q). Each per-type
    term is a deterministic double over exact integer cell moments and
    enters the house round-9 → DECIMAL sum (cross-row float sums are
    never raw).

    Scale: one alphabet×2 cell agg; everything after is k-row
    arithmetic."""
    cells = _weekend_cells(spark, sf_dir).filter(_CELL_GUARD)
    per = cells.select(
        "event_type",
        F.expr(f"round({_D_I}, 9)").alias("d_i"),
        F.expr(f"round(1.0d / {_VI}, 9)").alias("w_i"),
    )
    tot = per.agg(
        F.count("*").cast("long").alias("k_types"),
        F.sum(F.expr("cast(round(w_i, 9) as decimal(38,9))")).alias("sw"),
        F.sum(
            F.expr("cast(round(w_i * d_i, 9) as decimal(38,9))")
        ).alias("swd"),
    )
    j = per.crossJoin(F.broadcast(tot))
    dbar = "(cast(swd as double) / cast(sw as double))"
    qterm = f"round(w_i * (d_i - {dbar}) * (d_i - {dbar}), 9)"
    g = j.agg(
        F.min("k_types").cast("long").alias("k_types"),
        F.sum(F.expr(f"cast({qterm} as decimal(38,9))")).alias("q"),
        F.min(F.expr(f"round({dbar}, 6)")).alias("pooled_effect_r6"),
    )
    return g.select(
        "k_types",
        "pooled_effect_r6",
        F.expr("round(cast(q as double), 6)").alias("cochran_q_r6"),
        F.expr(
            "case when cast(q as double) > 0.0d then"
            " round(greatest(0.0d, (cast(q as double)"
            " - cast(k_types - 1 as double)) / cast(q as double)), 6)"
            " end"
        ).alias("i2_r6"),
    )


def _duck_het() -> str:
    d_i = _D_I
    vi = _VI
    return f"""
WITH cells AS ({_WEEKEND_CELLS_DUCK}),
per AS (
  SELECT event_type,
         ROUND({d_i}, 9) AS d_i,
         ROUND(1.0 / {vi}, 9) AS w_i
  FROM cells WHERE {_CELL_GUARD.replace(' and ', ' AND ')}),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_types,
         SUM(CAST(ROUND(w_i, 9) AS DECIMAL(38,9))) AS sw,
         SUM(CAST(ROUND(w_i * d_i, 9) AS DECIMAL(38,9))) AS swd
  FROM per),
g AS (
  SELECT MIN(k_types) AS k_types,
         SUM(CAST(ROUND(w_i * (d_i - CAST(swd AS DOUBLE)
                                       / CAST(sw AS DOUBLE))
                        * (d_i - CAST(swd AS DOUBLE)
                                   / CAST(sw AS DOUBLE)), 9)
                  AS DECIMAL(38,9))) AS q,
         MIN(ROUND(CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE), 6))
           AS pooled_effect_r6
  FROM per CROSS JOIN tot)
SELECT CAST(k_types AS BIGINT) AS k_types, pooled_effect_r6,
       ROUND(CAST(q AS DOUBLE), 6) AS cochran_q_r6,
       CASE WHEN CAST(q AS DOUBLE) > 0.0 THEN
         ROUND(greatest(0.0, (CAST(q AS DOUBLE)
                              - CAST(k_types - 1 AS DOUBLE))
                        / CAST(q AS DOUBLE)), 6)
       END AS i2_r6
FROM g
"""


ORACLE_WEEKEND_HET = _duck_het()


def stats_effect_size_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes of the weekend on event value per type:
    Cohen's d on the pooled SD and the small-sample-corrected Hedges g
    — the magnitude readout reviewers demand next to any significance
    test (a significant z on a million rows can be a trivially small
    d). Deterministic doubles over exact integer cell moments; one
    Class B sqrt each.

    Scale: one alphabet×2 cell agg, then k-row arithmetic."""
    cells = _weekend_cells(spark, sf_dir).filter(_CELL_GUARD)
    sp2 = (
        f"(((n1 - 1) * {_V1} + (n0 - 1) * {_V0})"
        " / cast(n1 + n0 - 2 as double))"
    )
    d = f"({_D_I} / sqrt({sp2}))"
    corr = "(1.0d - 3.0d / (4.0d * cast(n1 + n0 as double) - 9.0d))"
    return cells.select(
        "event_type",
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        F.expr(f"round({_D_I}, 6)").alias("mean_diff_cents_r6"),
        F.expr(
            f"case when {sp2} > 0.0d then round({d}, 6) end"
        ).alias("cohens_d_r6"),
        F.expr(
            f"case when {sp2} > 0.0d then round({d} * {corr}, 6) end"
        ).alias("hedges_g_r6"),
    ).orderBy("event_type")


def _duck_effect_size() -> str:
    sp2 = (
        f"(((n1 - 1) * {_V1} + (n0 - 1) * {_V0})"
        " / CAST(n1 + n0 - 2 AS DOUBLE))"
    )
    d = f"({_D_I} / sqrt({sp2}))"
    corr = "(1.0 - 3.0 / (4.0 * CAST(n1 + n0 AS DOUBLE) - 9.0))"
    frag = (
        sp2.replace("cast(", "CAST(").replace(" as double", " AS DOUBLE")
    )
    dfrag = (
        d.replace("cast(", "CAST(").replace(" as double", " AS DOUBLE")
    )
    di = (
        _D_I.replace("cast(", "CAST(").replace(" as double", " AS DOUBLE")
    )
    return f"""
WITH cells AS ({_WEEKEND_CELLS_DUCK})
SELECT event_type, n0 AS n_weekday, n1 AS n_weekend,
       ROUND({di}, 6) AS mean_diff_cents_r6,
       CASE WHEN {frag} > 0.0 THEN ROUND({dfrag}, 6) END AS cohens_d_r6,
       CASE WHEN {frag} > 0.0 THEN ROUND({dfrag} * {corr}, 6) END
         AS hedges_g_r6
FROM cells WHERE n0 > 1 AND n1 > 1
ORDER BY event_type
"""


ORACLE_EFFECT_SIZE = _duck_effect_size()


def stats_interrupted_time_series(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interrupted time-series (ITS) readout on daily purchase volume:
    split the feed at its midpoint day and fit pre/post OLS segments
    (level + slope), reporting the slope change and the level jump at
    the breakpoint — the segmented-regression form every
    policy/release-impact analysis uses (stats_regression_trend fits
    ONE line; the deltas are what an intervention review reads). All
    moments are exact integers on TZ-proof day buckets; each OLS
    readout is a deterministic double expression.

    Scale: one daily agg (calendar-bounded), two 1-row segment
    aggregates."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(F.expr(f"({_US}) div 86400000000").alias("day"))
    daily = ev.groupBy("day").agg(F.count("*").cast("long").alias("y"))
    ext = daily.agg(
        F.min("day").cast("long").alias("dmin"),
        F.max("day").cast("long").alias("dmax"),
    )
    t = daily.crossJoin(F.broadcast(ext)).select(
        (F.col("day") - F.col("dmin")).alias("t"),
        "y",
        (((F.col("dmax") - F.col("dmin")) / 2).cast("long")).alias("bp"),
    )
    seg = t.withColumn("post", (F.col("t") >= F.col("bp")).cast("long"))
    g = seg.groupBy("post").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("t * t")).cast("long").alias("stt"),
        F.sum(F.expr("t * y")).cast("long").alias("sty"),
        F.min("bp").cast("long").alias("bp"),
    )
    slope = (
        "((cast(n as double) * sty - cast(st as double) * sy)"
        " / (cast(n as double) * stt - cast(st as double) * st))"
    )
    icept = (
        f"((cast(sy as double) - {slope} * cast(st as double))"
        " / cast(n as double))"
    )
    den_ok = "(cast(n as double) * stt - cast(st as double) * st) > 0.0d"
    per = g.select(
        "post",
        "n",
        "bp",
        F.expr(f"case when {den_ok} then round({slope}, 9) end")
        .alias("slope"),
        F.expr(f"case when {den_ok} then round({icept}, 9) end")
        .alias("icept"),
    )
    pre = per.filter("post = 0").select(
        F.col("n").alias("n_pre"),
        F.col("slope").alias("slope_pre"),
        F.col("icept").alias("icept_pre"),
        "bp",
    )
    post = per.filter("post = 1").select(
        F.col("n").alias("n_post"),
        F.col("slope").alias("slope_post"),
        F.col("icept").alias("icept_post"),
    )
    return pre.crossJoin(F.broadcast(post)).select(
        "n_pre",
        "n_post",
        F.col("bp").alias("break_day_offset"),
        F.expr("round(slope_pre, 6)").alias("slope_pre_r6"),
        F.expr("round(slope_post, 6)").alias("slope_post_r6"),
        F.expr("round(slope_post - slope_pre, 6)")
        .alias("slope_change_r6"),
        F.expr(
            "round((icept_post + slope_post * bp)"
            " - (icept_pre + slope_pre * bp), 6)"
        ).alias("level_change_r6"),
    )


ORACLE_ITS = f"""
WITH ev AS (
  SELECT ({_US_DUCK}) // 86400000000 AS day
  FROM events WHERE event_type = 'purchase'),
daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS y
          FROM ev GROUP BY 1),
ext AS (SELECT CAST(MIN(day) AS BIGINT) AS dmin,
               CAST(MAX(day) AS BIGINT) AS dmax FROM daily),
t AS (
  SELECT day - dmin AS t, y, CAST((dmax - dmin) // 2 AS BIGINT) AS bp
  FROM daily CROSS JOIN ext),
g AS (
  SELECT CASE WHEN t >= bp THEN 1 ELSE 0 END AS post,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * y) AS BIGINT) AS sty,
         CAST(MIN(bp) AS BIGINT) AS bp
  FROM t GROUP BY 1),
per AS (
  SELECT post, n, bp,
         CASE WHEN CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st > 0.0
         THEN ROUND((CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                    / (CAST(n AS DOUBLE) * stt
                       - CAST(st AS DOUBLE) * st), 9) END AS slope,
         CASE WHEN CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st > 0.0
         THEN ROUND((CAST(sy AS DOUBLE)
                     - (CAST(n AS DOUBLE) * sty
                        - CAST(st AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * stt
                          - CAST(st AS DOUBLE) * st)
                       * CAST(st AS DOUBLE))
                    / CAST(n AS DOUBLE), 9) END AS icept
  FROM g)
SELECT pre.n AS n_pre, post.n AS n_post,
       pre.bp AS break_day_offset,
       ROUND(pre.slope, 6) AS slope_pre_r6,
       ROUND(post.slope, 6) AS slope_post_r6,
       ROUND(post.slope - pre.slope, 6) AS slope_change_r6,
       ROUND((post.icept + post.slope * pre.bp)
             - (pre.icept + pre.slope * pre.bp), 6) AS level_change_r6
FROM (SELECT * FROM per WHERE post = 0) pre
CROSS JOIN (SELECT * FROM per WHERE post = 1) post
"""


def text_length_dup_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are LONG documents more likely to be exact duplicates? The
    curation-policy question behind length-conditioned dedup budgets
    (boilerplate concentrates in specific length bands; a uniform dedup
    pass wastes verify-tier work where dups don't live). Length
    quartiles via exact type-1 ranks on (n_chars, doc_id); dup flag =
    full-text md5 multiplicity > 1. Exact integers + one half-up rate.

    Scale: one md5 groupBy (the exact-dedup posture), one
    corpus-ordered rank window (fixed-width sort key), a 4-row
    rollup."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.md5("text").alias("h")
    )
    dup = docs.groupBy("h").agg(
        F.count("*").cast("long").alias("m")
    )
    flagged = docs.join(dup, "h").select(
        "doc_id", "n_chars", (F.col("m") > 1).cast("long").alias("is_dup")
    )
    wr = W.orderBy("n_chars", "doc_id")
    ranked = flagged.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(W.partitionBy())
    )
    return (
        ranked.withColumn(
            "quartile", F.expr("((rn - 1) * 4) div n").cast("long")
        )
        .groupBy("quartile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
        )
        .select(
            "quartile",
            "n_docs",
            "min_chars",
            "max_chars",
            "n_dup_docs",
            F.expr(rat_round6_spark("n_dup_docs", "n_docs"))
            .alias("dup_rate_r6"),
        )
        .orderBy("quartile")
    )


ORACLE_LENGTH_DUP_BIAS = f"""
WITH docs AS (
  SELECT doc_id, n_chars, md5(text) AS h FROM documents),
dup AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS m FROM docs GROUP BY 1),
flagged AS (
  SELECT doc_id, n_chars,
         CASE WHEN m > 1 THEN 1 ELSE 0 END AS is_dup
  FROM docs JOIN dup USING (h)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM flagged)
SELECT ((rn - 1) * 4) // n AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       {rat_round6_duck("CAST(SUM(is_dup) AS BIGINT)",
                        "CAST(COUNT(*) AS BIGINT)")} AS dup_rate_r6
FROM ranked GROUP BY 1 ORDER BY quartile
"""


def ev_changepoint_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary-segmentation changepoint on daily event
    volume: the split s maximizing the between-segment sum of squares
    B(s) = S₁²/n₁ + S₂²/n₂ − S²/n — CUSUM (ev_value_cusum_extrema)
    locates drift in a cumulative path; this is the variance-reduction
    answer ("WHERE does one mean end and another begin, and how much
    does the split explain"). B(s) is a deterministic double per split
    from exact integer prefix sums; the argmax tie-breaks to the
    earliest day.

    Scale: one daily agg, prefix sums over the calendar-bounded daily
    frame (a bounded global window), a 1-row argmax."""
    ev = _events(spark, sf_dir).select(
        F.expr(f"({_US}) div 86400000000").alias("day")
    )
    daily = ev.groupBy("day").agg(F.count("*").cast("long").alias("y"))
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.expr("y * y")).cast("long").alias("qq"),
    )
    pre = (
        daily.withColumn("n1", F.count("*").over(wc).cast("long"))
        .withColumn("s1", F.sum("y").over(wc).cast("long"))
        .crossJoin(F.broadcast(tot))
        .filter("n1 < n")  # both segments non-empty
    )
    b = (
        "(cast(s1 as double) * s1 / n1"
        " + cast(s - s1 as double) * (s - s1) / (n - n1)"
        " - cast(s as double) * s / n)"
    )
    sst = "(cast(qq as double) - cast(s as double) * s / n)"
    scored = pre.select(
        "day",
        "n1",
        F.expr(f"round({b}, 9)").alias("bss"),
        F.expr(f"round({sst}, 9)").alias("sst"),
        "n",
        "s",
    )
    best = scored.orderBy(F.desc("bss"), F.asc("day")).limit(1)
    return best.select(
        F.col("day").alias("change_day_epoch"),
        F.col("n1").alias("n_days_left"),
        (F.col("n") - F.col("n1")).alias("n_days_right"),
        F.expr("round(bss, 6)").alias("between_ss_r6"),
        F.expr(
            "case when sst > 0.0d then round(bss / sst, 6) end"
        ).alias("variance_explained_r6"),
    )


ORACLE_CHANGEPOINT = f"""
WITH daily AS (
  SELECT ({_US_DUCK}) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS qq
  FROM daily),
pre AS (
  SELECT day,
         CAST(SUM(1) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS n1,
         CAST(SUM(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS s1
  FROM daily),
scored AS (
  SELECT day, n1, n, s,
         ROUND(CAST(s1 AS DOUBLE) * s1 / n1
               + CAST(s - s1 AS DOUBLE) * (s - s1) / (n - n1)
               - CAST(s AS DOUBLE) * s / n, 9) AS bss,
         ROUND(CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * s / n, 9) AS sst
  FROM pre CROSS JOIN tot WHERE n1 < n)
SELECT day AS change_day_epoch, n1 AS n_days_left,
       n - n1 AS n_days_right,
       ROUND(bss, 6) AS between_ss_r6,
       CASE WHEN sst > 0.0 THEN ROUND(bss / sst, 6) END
         AS variance_explained_r6
FROM scored ORDER BY bss DESC, day LIMIT 1
"""


# --------------------------------------------------------------------------
# Batch R (r14 continuation; r15 window backlog): dedup storage ROI,
# Adamic-Adar link prediction, hash-split fairness, cohort NDR, weekly
# type-mix drift
# --------------------------------------------------------------------------


def mm_dedup_net_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged dedup storage ROI per media type: bytes reclaimed by
    exact full-payload dedup, then the EXTRA bytes CDC chunk-level
    dedup recovers among the surviving distinct payloads — the
    capacity-planning number behind "is chunk-level dedup worth its
    index cost here". All byte accounting is exact integers; the
    shares are half-up rationals.

    Scale: one md5 groupBy (exact-dedup posture), survivors by min-id
    representative, then the shared cdc_chunks projection over
    survivors only and one (media, chunk_hash) agg — never payload²."""
    assets = _assets_curation(spark, sf_dir).select(
        "doc_id",
        "media_type",
        "payload",
        F.octet_length("payload").cast("long").alias("len"),
        F.md5("payload").alias("h"),
    ).localCheckpoint(eager=True)  # feeds totals + groups + survivors
    totals = assets.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("len").cast("long").alias("total_bytes"),
    )
    groups = assets.groupBy("media_type", "h").agg(
        F.count("*").cast("long").alias("m"),
        F.min("len").cast("long").alias("glen"),
        F.min("doc_id").cast("long").alias("keep_id"),
    )
    exact = groups.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_survivors"),
        F.sum(F.expr("(m - 1) * glen")).cast("long")
        .alias("exact_saved_bytes"),
        F.sum("glen").cast("long").alias("survivor_bytes"),
    )
    surv = assets.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id"
    ).select("doc_id", "media_type", "payload")
    chunks = cdc_chunks(surv)
    cdc = (
        chunks.groupBy("media_type", "chunk_hash")
        .agg(
            F.count("*").cast("long").alias("occ"),
            F.min("chunk_len").cast("long").alias("clen"),
        )
        .groupBy("media_type")
        .agg(
            F.sum(F.expr("(occ - 1) * clen")).cast("long")
            .alias("cdc_saved_bytes")
        )
    )
    return (
        totals.join(exact, "media_type")
        .join(cdc, "media_type", "left")
        .select(
            "media_type",
            "n_assets",
            "total_bytes",
            "exact_saved_bytes",
            "n_survivors",
            "survivor_bytes",
            F.coalesce("cdc_saved_bytes", F.lit(0)).cast("long")
            .alias("cdc_saved_bytes"),
            F.expr(
                rat_round6_spark(
                    "exact_saved_bytes + coalesce(cdc_saved_bytes, 0)",
                    "total_bytes",
                )
            ).alias("total_saved_share_r6"),
        )
        .orderBy("media_type")
    )


ORACLE_DEDUP_NET_SAVINGS = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         text,
         CAST(octet_length(encode(text)) AS BIGINT) AS len,
         md5(text) AS h
  FROM documents),
totals AS (
  SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n_assets,
         CAST(SUM(len) AS BIGINT) AS total_bytes
  FROM a GROUP BY 1),
groups AS (
  SELECT media_type, h, CAST(COUNT(*) AS BIGINT) AS m,
         CAST(MIN(len) AS BIGINT) AS glen,
         CAST(MIN(doc_id) AS BIGINT) AS keep_id
  FROM a GROUP BY 1, 2),
exact AS (
  SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n_survivors,
         CAST(SUM((m - 1) * glen) AS BIGINT) AS exact_saved_bytes,
         CAST(SUM(glen) AS BIGINT) AS survivor_bytes
  FROM groups GROUP BY 1),
sv AS (
  SELECT s.doc_id, s.media_type,
         upper(hex(encode(s.text))) AS hx,
         octet_length(encode(s.text)) AS n
  FROM a s JOIN groups g ON s.doc_id = g.keep_id
  WHERE octet_length(encode(s.text)) >= 1),
b AS (
  SELECT *, list_transform(generate_series(1, n),
           i -> CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS bs
  FROM sv),
c AS (
  SELECT doc_id, media_type, hx, n,
         list_concat(list_concat([0],
           CASE WHEN n >= 2 THEN
             list_filter(generate_series(1, n - 1),
               i -> (bs[i] * 31 + bs[i + 1]) % {CDC_MOD} = 0)
           ELSE [] END), [n]) AS bounds
  FROM b),
ch AS (
  SELECT media_type,
         CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS chunk_len,
         md5(substr(hx, 2 * bounds[i] + 1,
                    2 * (bounds[i + 1] - bounds[i]))) AS chunk_hash
  FROM c, LATERAL unnest(generate_series(1, len(bounds) - 1)) AS u(i)),
cdc AS (
  SELECT media_type,
         CAST(SUM((occ - 1) * clen) AS BIGINT) AS cdc_saved_bytes
  FROM (
    SELECT media_type, chunk_hash, CAST(COUNT(*) AS BIGINT) AS occ,
           CAST(MIN(chunk_len) AS BIGINT) AS clen
    FROM ch GROUP BY 1, 2)
  GROUP BY 1)
SELECT t.media_type, t.n_assets, t.total_bytes, e.exact_saved_bytes,
       e.n_survivors, e.survivor_bytes,
       COALESCE(cdc.cdc_saved_bytes, 0) AS cdc_saved_bytes,
       {rat_round6_duck(
           "e.exact_saved_bytes + COALESCE(cdc.cdc_saved_bytes, 0)",
           "t.total_bytes")} AS total_saved_share_r6
FROM totals t
JOIN exact e ON t.media_type = e.media_type
LEFT JOIN cdc ON t.media_type = cdc.media_type
ORDER BY t.media_type
"""


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the near-dup graph: common
    neighbors weighted by 1/ln(degree) — a hub neighbor shared with
    everyone carries almost no evidence, which is exactly what the
    plain common-neighbor count (graph_common_neighbors) gets wrong on
    template-heavy dup graphs. Wedge centers always have degree ≥ 2,
    so ln(deg) > 0 by construction; each wedge term is 9dp-rounded
    into the house DECIMAL sum.

    Scale: the same center-keyed wedge join as the triangle machinery
    (Σ deg² bounded upstream by MAX_DF pruning); the anti-join removes
    existing edges."""
    from .dedup import dedup_ngram_jaccard

    edges = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=True)  # reused by wedges + degree + anti
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    degree = sym.groupBy(F.col("doc_a").alias("b")).agg(
        F.count("*").cast("long").alias("deg_b")
    )
    w1 = sym.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    w2 = sym.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    wedges = (
        w1.join(w2, "b")
        .filter(F.col("a") < F.col("c"))
        .join(degree, "b")
        .groupBy("a", "c")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(
                F.expr(
                    "cast(round(1.0d / ln(cast(deg_b as double)), 9)"
                    " as decimal(38,9))"
                )
            ).alias("aa"),
        )
    )
    return (
        wedges.join(
            edges,
            (F.col("a") == F.col("doc_a")) & (F.col("c") == F.col("doc_b")),
            "left_anti",
        )
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "n_common",
            F.expr("round(cast(aa as double), 6)").alias("aa_score_r6"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _oracle_adamic_adar() -> str:
    from .dedup import _NGRAM_PAIR_CTES, JACCARD_TAU

    return f"""
WITH {_NGRAM_PAIR_CTES},
edges AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}),
sym AS (
  SELECT doc_a, doc_b FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges),
degree AS (SELECT doc_a AS b, CAST(COUNT(*) AS BIGINT) AS deg_b
           FROM sym GROUP BY 1),
wedges AS (
  SELECT w1.doc_a AS a, w2.doc_b AS c,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(CAST(ROUND(1.0 / ln(CAST(d.deg_b AS DOUBLE)), 9)
                  AS DECIMAL(38,9))) AS aa
  FROM sym w1
  JOIN sym w2 ON w1.doc_b = w2.doc_a
  JOIN degree d ON d.b = w1.doc_b
  WHERE w1.doc_a < w2.doc_b
  GROUP BY 1, 2)
SELECT a AS doc_a, c AS doc_b, n_common,
       ROUND(CAST(aa AS DOUBLE), 6) AS aa_score_r6
FROM wedges w
WHERE NOT EXISTS (SELECT 1 FROM edges e
                  WHERE e.doc_a = w.a AND e.doc_b = w.c)
ORDER BY doc_a, doc_b
"""


ORACLE_ADAMIC_ADAR = _oracle_adamic_adar()


HASH_FAIRNESS_BUCKETS = 10


def stats_hash_split_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniformity audit of the house md5 assignment lane (the hash
    every deterministic split in the engine keys on — A/B arms,
    weighted samples, eval splits): distinct users → md5 lane mod 100
    → {HASH_FAIRNESS_BUCKETS} buckets, exact-integer chi-square
    against uniform (χ² = (k·Σo² − n²)/n) plus the extreme bucket
    counts. A skewed lane silently biases EVERY hash-split op, so this
    is governance for the whole family (χ²(9) 95% critical value:
    16.92 — the doc-level judgment, not an engine output).

    Scale: one user-grain distinct, one k-row agg."""
    from .temporal import AB_SALT

    users = _events(spark, sf_dir).select("user_id").distinct()
    lane = (
        "cast(conv(substring(md5(concat(cast(user_id as string), "
        f"':{AB_SALT}')), 1, 7), 16, 10) as bigint) % 100"
    )
    b = users.select(
        F.expr(f"({lane}) div {100 // HASH_FAIRNESS_BUCKETS}")
        .alias("bucket")
    )
    g = b.groupBy("bucket").agg(F.count("*").cast("long").alias("o"))
    tot = g.agg(
        F.sum("o").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.expr("o * o")).cast("long").alias("sq"),
        F.max("o").cast("long").alias("max_bucket"),
        F.min("o").cast("long").alias("min_bucket"),
    )
    return tot.select(
        F.col("n").alias("n_users"),
        F.col("k").alias("n_buckets"),
        "max_bucket",
        "min_bucket",
        F.expr(
            "case when n > 0 then "
            + rat_round6_spark(
                f"{HASH_FAIRNESS_BUCKETS} * sq - n * n", "n"
            )
            + " end"
        ).alias("chi2_r6"),
    )


def _oracle_hash_fairness() -> str:
    from .temporal import AB_SALT

    return f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
b AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                               || ':{AB_SALT}'), 1, 7)) AS BIGINT)
          % 100) // {100 // HASH_FAIRNESS_BUCKETS} AS bucket
  FROM users),
g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY 1),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(o * o) AS BIGINT) AS sq,
         CAST(MAX(o) AS BIGINT) AS max_bucket,
         CAST(MIN(o) AS BIGINT) AS min_bucket
  FROM g)
SELECT n AS n_users, k AS n_buckets, max_bucket, min_bucket,
       CASE WHEN n > 0 THEN
         {rat_round6_duck(f"{HASH_FAIRNESS_BUCKETS} * sq - n * n", "n")}
       END AS chi2_r6
FROM tot
"""


ORACLE_HASH_FAIRNESS = _oracle_hash_fairness()


def orders_cohort_ndr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net dollar retention by acquisition cohort: for each first-order
    year, the cohort's next-year revenue as a share of its first-year
    revenue — the NDR readout every subscription/repeat-purchase
    review leads with (orders_cohort_ltv accumulates value; NDR is the
    year-over-year retention RATIO the board asks for). Exact cents;
    one half-up rational per cohort.

    Scale: one customer-grain min-year agg, one broadcast join back,
    one cohort-grain rollup."""
    o = catalog.load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("year(o_orderdate)").alias("yr"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)")
        .alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(
        F.min("yr").alias("cohort_year")
    )
    j = o.join(first, "o_custkey")
    return (
        j.groupBy("cohort_year")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.sum(F.when(F.col("yr") == F.col("cohort_year"),
                         F.col("cents")).otherwise(0))
            .cast("long").alias("rev_y0_cents"),
            F.sum(F.when(F.col("yr") == F.col("cohort_year") + 1,
                         F.col("cents")).otherwise(0))
            .cast("long").alias("rev_y1_cents"),
        )
        .select(
            F.col("cohort_year").cast("long").alias("cohort_year"),
            "n_customers",
            "rev_y0_cents",
            "rev_y1_cents",
            F.expr(
                "case when rev_y0_cents > 0 then "
                + rat_round6_spark("rev_y1_cents", "rev_y0_cents")
                + " end"
            ).alias("ndr_r6"),
        )
        .orderBy("cohort_year")
    )


ORACLE_COHORT_NDR = f"""
WITH o AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
first AS (SELECT o_custkey, MIN(yr) AS cohort_year FROM o GROUP BY 1),
g AS (
  SELECT cohort_year,
         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN yr = cohort_year THEN cents ELSE 0 END)
              AS BIGINT) AS rev_y0_cents,
         CAST(SUM(CASE WHEN yr = cohort_year + 1 THEN cents ELSE 0 END)
              AS BIGINT) AS rev_y1_cents
  FROM o JOIN first USING (o_custkey) GROUP BY 1)
SELECT CAST(cohort_year AS BIGINT) AS cohort_year, n_customers,
       rev_y0_cents, rev_y1_cents,
       CASE WHEN rev_y0_cents > 0 THEN
         {rat_round6_duck("rev_y1_cents", "rev_y0_cents")}
       END AS ndr_r6
FROM g ORDER BY cohort_year
"""


def ev_type_mix_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event-type mix drift: total-variation distance
    between consecutive weekly type distributions plus the top-moving
    type — the monitoring readout that catches a product change or
    instrumentation break shifting the TRAFFIC SHAPE while volumes
    look normal (drift_psi/drift_priority_mix_tv watch static frames;
    this is the rolling feed form). TV is an EXACT rational:
    Σ|x_w·n_p − x_p·n_w| / (2·n_w·n_p) — integer numerators, one
    half-up round.

    Scale: the fact stream reduces to (week, type) counts
    (calendar×alphabet-bounded); the consecutive-week join and argmax
    run on that bounded frame."""
    return assemble_type_mix_drift(
        type_mix_drift_grain(_events(spark, sf_dir))
    )


def type_mix_drift_grain(events: DataFrame) -> DataFrame:
    """The (wek, event_type, x) weekly counts, shared by the batch op and
    streaming/jobs.run_type_mix_drift_stream."""
    ev = events.select(
        F.expr(f"(({_US}) div 86400000000) div 7").alias("wek"),
        "event_type",
    )
    return ev.groupBy("wek", "event_type").agg(
        F.count("*").cast("long").alias("x")
    )


def assemble_type_mix_drift(wt: DataFrame) -> DataFrame:
    """TV-drift readout over the (wek, event_type, x) WEEKLY frame —
    the shared contract between the batch op and
    streaming/jobs.run_type_mix_drift_stream (calendar×alphabet-
    bounded state)."""
    wt = wt.localCheckpoint(eager=True)  # feeds both sides of the lag join
    wn = wt.groupBy("wek").agg(F.sum("x").cast("long").alias("n"))
    cur = wt.join(wn, "wek")
    prev = wt.select(
        (F.col("wek") + 1).alias("wek"),
        F.col("event_type"),
        F.col("x").alias("xp"),
    ).join(
        wn.select((F.col("wek") + 1).alias("wek"),
                  F.col("n").alias("np")),
        "wek",
    )
    j = cur.join(prev, ["wek", "event_type"], "full_outer").select(
        "wek",
        "event_type",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        F.coalesce("xp", F.lit(0)).cast("long").alias("xp"),
        F.max("n").over(W.partitionBy("wek")).cast("long").alias("n"),
        F.max("np").over(W.partitionBy("wek")).cast("long").alias("np"),
    ).filter("n is not null and np is not null")
    terms = j.select(
        "wek",
        "event_type",
        F.expr("abs(x * np - xp * n)").alias("num"),
        "n",
        "np",
    )
    agg = terms.groupBy("wek").agg(
        F.sum("num").cast("long").alias("snum"),
        F.min("n").cast("long").alias("n"),
        F.min("np").cast("long").alias("np"),
    )
    wmv = W.partitionBy("wek").orderBy(F.desc("num"), F.asc("event_type"))
    mover = (
        terms.withColumn("rn", F.row_number().over(wmv))
        .filter("rn = 1")
        .select("wek", F.col("event_type").alias("top_mover"))
    )
    return (
        agg.join(mover, "wek")
        .select(
            F.col("wek").alias("week_epoch"),
            F.col("n").alias("n_events"),
            "top_mover",
            F.expr(rat_round6_spark("snum", "2 * n * np"))
            .alias("tv_vs_prev_r6"),
        )
        .orderBy("week_epoch")
    )


ORACLE_TYPE_MIX_DRIFT = f"""
WITH ev AS (
  SELECT ((({_US_DUCK}) // 86400000000) // 7) AS wek, event_type
  FROM events),
wt AS (SELECT wek, event_type, CAST(COUNT(*) AS BIGINT) AS x
       FROM ev GROUP BY 1, 2),
wn AS (SELECT wek, CAST(SUM(x) AS BIGINT) AS n FROM wt GROUP BY 1),
j0 AS (
  SELECT COALESCE(c.wek, p.wek) AS wek,
         COALESCE(c.event_type, p.event_type) AS event_type,
         COALESCE(c.x, 0) AS x, COALESCE(p.xp, 0) AS xp
  FROM (SELECT wek, event_type, x FROM wt) c
  FULL OUTER JOIN (SELECT wek + 1 AS wek, event_type, x AS xp
                   FROM wt) p
    ON c.wek = p.wek AND c.event_type = p.event_type),
j AS (
  SELECT j0.wek, j0.event_type, j0.x, j0.xp, cn.n, pn.np
  FROM j0
  JOIN wn cn ON cn.wek = j0.wek
  JOIN (SELECT wek + 1 AS wek, n AS np FROM wn) pn
    ON pn.wek = j0.wek),
terms AS (
  SELECT wek, event_type, abs(x * np - xp * n) AS num, n, np FROM j),
agg AS (
  SELECT wek, CAST(SUM(num) AS BIGINT) AS snum,
         CAST(MIN(n) AS BIGINT) AS n, CAST(MIN(np) AS BIGINT) AS np
  FROM terms GROUP BY 1),
mover AS (
  SELECT wek, event_type AS top_mover FROM (
    SELECT wek, event_type,
           ROW_NUMBER() OVER (PARTITION BY wek
                              ORDER BY num DESC, event_type) AS rn
    FROM terms) WHERE rn = 1)
SELECT a.wek AS week_epoch, a.n AS n_events, m.top_mover,
       {rat_round6_duck("snum", "2 * n * np")} AS tv_vs_prev_r6
FROM agg a JOIN mover m ON a.wek = m.wek
ORDER BY week_epoch
"""


SPECS = [
    QuerySpec("dedup_semantic_kmeans", dedup_semantic_kmeans,
              ORACLE_SEMANTIC_KMEANS, ("dedup", "embedding", "curation"),
              doc="SemDedup: kmeans-cluster-bucketed embedding near-dup "
                  "with first-occurrence keep rule (exact grid "
                  "distances, cluster-bounded pairs)"),
    QuerySpec("text_bigram_lm_surprisal", text_bigram_lm_surprisal,
              ORACLE_BIGRAM_LM, ("text", "quality", "curation"),
              doc="per-doc bigram-LM fluency proxy: mean/min conditional "
                  "probability + rare-bigram share, exact micro "
                  "rationals"),
    QuerySpec("text_repetition_gates", text_repetition_gates,
              ORACLE_REPETITION_GATES, ("text", "quality", "curation"),
              doc="Gopher repetition gates: duplicated n-gram occurrence "
                  "share at n=2,3,4 with integer-cross-multiply pass "
                  "flags"),
    QuerySpec("dedup_paragraph_cleaned_corpus",
              dedup_paragraph_cleaned_corpus, ORACLE_PARAGRAPH_CLEANED,
              ("dedup", "curation", "pipeline"),
              doc="paragraph-grain cleaned corpus: first-occurrence "
                  "keep over verified block pairs, token-grid cut + "
                  "removal accounting"),
    QuerySpec("text_eval_split_leakage", text_eval_split_leakage,
              ORACLE_EVAL_SPLIT_LEAKAGE, ("text", "eval", "curation"),
              doc="hash eval split + dup-graph leakage audit per source "
                  "(cross-split dup pairs, distinct leaked eval docs)"),
    QuerySpec("text_cooccur_lift_topk", text_cooccur_lift_topk,
              ORACLE_COOCCUR_LIFT, ("text", "stats", "curation"),
              doc="head-term co-occurrence lift pairs (rational PMI "
                  "exponent; bounded head dictionary, doc-keyed join)"),
    QuerySpec("text_positional_drift", text_positional_drift,
              ORACLE_POSITIONAL_DRIFT, ("text", "stats"),
              doc="front-vs-back positional usage bias per head term "
                  "(signed micro share difference)"),
    QuerySpec("text_head_tail_selfsim", text_head_tail_selfsim,
              ORACLE_HEAD_TAIL_SELFSIM, ("text", "quality"),
              doc="per-doc head/tail vocabulary Jaccard (long-range "
                  "redundancy probe; pure map-side HOFs)"),
    QuerySpec("text_char_bigram_topk", text_char_bigram_topk,
              ORACLE_CHAR_BIGRAM_TOPK, ("text", "langid", "stats"),
              doc="top char bigrams per language with exact shares "
                  "(lang-ID feature table / encoding-drift probe)"),
    QuerySpec("ev_value_cusum_extrema", ev_value_cusum_extrema,
              ORACLE_CUSUM_EXTREMA, ("events", "stats", "changepoint"),
              doc="per-user integer CUSUM extrema of centered spend "
                  "cents (division-free change detection)"),
    QuerySpec("ev_dow_hour_heatmap", ev_dow_hour_heatmap,
              ORACLE_DOW_HOUR_HEATMAP, ("events", "stats"),
              doc="dow x hour activity grid via pure epoch-integer "
                  "calendar arithmetic (tz/locale-free)"),
    QuerySpec("ev_type_affinity_skew", ev_type_affinity_skew,
              ORACLE_TYPE_AFFINITY, ("events", "stats", "audit"),
              doc="users over-indexing per event type (integer "
                  "cross-multiplied share comparison)"),
    QuerySpec("ev_daily_newcomer_share", ev_daily_newcomer_share,
              ORACLE_DAILY_NEWCOMER, ("events", "stats", "growth"),
              doc="per-day first-seen-user event share + new-user "
                  "counts (growth vs retention decomposition)"),
    QuerySpec("ev_peak_hour_ratio", ev_peak_hour_ratio,
              ORACLE_PEAK_HOUR, ("events", "stats", "capacity"),
              doc="per-day peak-to-mean hourly load ratio, argmax "
                  "peak hour with low-hour ties"),
    QuerySpec("orders_price_band_month_mix", orders_price_band_month_mix,
              ORACLE_PRICE_BAND_MIX, ("orders", "stats", "drift"),
              doc="monthly log2 price-band order mix (bit_length "
                  "bands, exact shares — the drift grid)"),
    QuerySpec("orders_repeat_customer_share", orders_repeat_customer_share,
              ORACLE_REPEAT_CUSTOMER, ("orders", "stats", "retention"),
              doc="monthly first-vs-repeat order/revenue split "
                  "(window first-order rank, cent-exact)"),
    QuerySpec("lineitem_unit_price_outliers", lineitem_unit_price_outliers,
              ORACLE_UNIT_PRICE_OUTLIERS, ("lineitem", "audit", "stats"),
              doc="per-brand exact-median unit-price outlier audit "
                  "(type-1 median, integer cross-multiplied flags)"),
    QuerySpec("orders_month_end_loading", orders_month_end_loading,
              ORACLE_MONTH_END_LOADING, ("orders", "audit", "stats"),
              doc="share of orders/cents in the last 3 calendar days "
                  "per month (quota-stuffing fingerprint)"),
    QuerySpec("emb_quantile_clip_bounds", emb_quantile_clip_bounds,
              ORACLE_QUANTILE_CLIP, ("embedding", "stats", "quantize"),
              doc="per-dim exact type-1 p1/p99 clip bounds on the "
                  "2^-20 grid + out-of-bounds mass"),
    QuerySpec("emb_grid_cell_density", emb_grid_cell_density,
              ORACLE_GRID_CELL_DENSITY, ("embedding", "lsh", "stats"),
              doc="sign-grid cell occupancy over the leading dims "
                  "(hyperplane bucket balance diagnostic)"),
    QuerySpec("emb_centroid_margin_bands", emb_centroid_margin_bands,
              ORACLE_CENTROID_MARGIN, ("embedding", "kmeans", "stats"),
              doc="log2 bands of the best-vs-second centroid margin "
                  "(assignment confidence / IVF routing stability)"),
    QuerySpec("emb_dim_sign_balance", emb_dim_sign_balance,
              ORACLE_DIM_SIGN_BALANCE, ("embedding", "lsh", "audit"),
              doc="per-dim sign balance, worst-first by exact integer "
                  "imbalance (sketch-bit health check)"),
    QuerySpec("sketch_kmv_setops", sketch_kmv_setops,
              ORACLE_KMV_SETOPS, ("sketch", "agg"),
              doc="theta-sketch union/Jaccard/intersection estimates "
                  "between priority customer populations (bottom-k "
                  "merge, fixed 52-bit md5 lanes)"),
    QuerySpec("stats_capture_recapture", stats_capture_recapture,
              ORACLE_CAPTURE_RECAPTURE, ("stats", "orders"),
              doc="Lincoln-Petersen + Chapman population estimate from "
                  "two order windows, exact rationals + true-count "
                  "audit column"),
    QuerySpec("mm_chunk_dedup_cross", mm_chunk_dedup_cross,
              ORACLE_CHUNK_DEDUP_CROSS, ("multimodal", "dedup"),
              doc="cross-payload 64-byte aligned chunk dedup over md5 "
                  "hex-slice hashes (CAS dedup table / copied-asset "
                  "detector)"),
    # --- continuation batch (r13 backlog; queued beyond the window) ---
    QuerySpec("dedup_component_cohesion", dedup_component_cohesion,
              _oracle_component_cohesion(), ("dedup", "graph", "audit"),
              doc="min/max/mean edge Jaccard per near-dup component "
                  "(chain-vs-clique collapse safety gate)"),
    QuerySpec("graph_local_bridges", graph_local_bridges,
              ORACLE_LOCAL_BRIDGES, ("dedup", "graph", "audit"),
              doc="common-neighbor count per EXISTING dup edge; zero "
                  "= local bridge (the edge a conservative dedup "
                  "severs)"),
    QuerySpec("emb_bucket_pair_cos_histogram",
              emb_bucket_pair_cos_histogram,
              ORACLE_BUCKET_PAIR_COS, ("embedding", "lsh", "stats"),
              doc="cosine histogram of sign-bucket candidate pairs "
                  "(LSH threshold calibration; bucket-bounded pairs)"),
    QuerySpec("mm_payload_byte_stats", mm_payload_byte_stats,
              ORACLE_PAYLOAD_BYTE_STATS, ("multimodal", "stats"),
              doc="per-asset byte count/sum/mean/min/max/distinct "
                  "triage row from the hex projection (map-only)"),
    QuerySpec("ev_type_transition_gap_median",
              ev_type_transition_gap_median,
              ORACLE_TRANSITION_GAP, ("events", "stats", "percentile"),
              doc="exact median/p90 inter-event gap per type "
                  "transition (lag window + type-1 ranks)"),
    QuerySpec("customer_balance_activity_grid",
              customer_balance_activity_grid,
              ORACLE_BALANCE_ACTIVITY, ("orders", "stats"),
              doc="acctbal decile x order-count log2-band contingency "
                  "grid (NTILE over the customer dimension)"),
    QuerySpec("text_source_bigram_uniqueness",
              text_source_bigram_uniqueness,
              ORACLE_SOURCE_BIGRAM_UNIQ, ("text", "provenance", "stats"),
              doc="per-source share of bigram types unique to that "
                  "source (provenance value, inverted-index shape)"),
    QuerySpec("stats_sign_test_user_value", stats_sign_test_user_value,
              ORACLE_SIGN_TEST, ("events", "stats"),
              doc="paired sign test of first-half vs second-half "
                  "per-user spend (cross-multiplied mean comparison)"),
    QuerySpec("ev_hourly_mad_anomalies", ev_hourly_mad_anomalies,
              ORACLE_HOURLY_MAD, ("events", "stats", "anomaly"),
              doc="median/MAD hourly volume anomalies (exact type-1 "
                  "median + MAD over the calendar-bounded frame)"),
    QuerySpec("supplier_acctbal_quartile_grid",
              supplier_acctbal_quartile_grid,
              ORACLE_SUPPLIER_QUARTILE, ("orders", "stats"),
              doc="supplier balance quartiles x nation heat map "
                  "(NTILE over the supplier dimension)"),
    QuerySpec("text_dedup_inflation_by_source",
              text_dedup_inflation_by_source,
              ORACLE_DEDUP_INFLATION, ("dedup", "curation", "provenance"),
              doc="paragraph-dedup removable token mass per source "
                  "(the procurement-pricing number)"),
    QuerySpec("sim_ivf_routing_balance", sim_ivf_routing_balance,
              _oracle_ivf_routing(), ("embedding", "ann", "audit"),
              doc="per-list size x probe load x scanned-candidate "
                  "share of the IVF routing (coarse-quantizer balance)"),
    QuerySpec("stats_blomqvist_beta_brand", stats_blomqvist_beta_brand,
              ORACLE_BLOMQVIST, ("lineitem", "stats"),
              doc="Blomqvist medial correlation of qty vs price per "
                  "brand (quadrant counts around exact medians — no "
                  "square overflows)"),
    QuerySpec("dedup_band_precision_profile", dedup_band_precision_profile,
              _oracle_band_precision(), ("dedup", "lsh", "tuning"),
              doc="per-band candidate count + exact-verify precision "
                  "of the production MinHash-LSH (bands x rows tuning "
                  "table)"),
    QuerySpec("ev_hourly_session_load", ev_hourly_session_load,
              _oracle_hourly_session_load(), ("events", "sessions",
                                              "capacity"),
              doc="concurrent 30-min-gap sessions per hour (capped "
                  "hour fan-out; capacity view of sessionization)"),
    # --- continuation batch D (r13 backlog) ---
    QuerySpec("stats_cramers_v_assoc", stats_cramers_v_assoc,
              ORACLE_CRAMERS_V, ("lineitem", "stats"),
              doc="Cramér's V² of brand x returnflag: contingency grid "
                  "with exact integer-micro chi² and the scale-free "
                  "association statistic"),
    QuerySpec("dedup_cluster_pareto", dedup_cluster_pareto,
              ORACLE_CLUSTER_PARETO, ("dedup", "curation", "audit"),
              doc="Pareto curve of exact-dup removable token mass by "
                  "cluster rank (viral-template takedown priority)"),
    QuerySpec("customer_priority_transitions",
              customer_priority_transitions,
              ORACLE_PRIORITY_TRANSITIONS, ("orders", "stats"),
              doc="consecutive-order priority transition matrix per "
                  "customer (Markov read on the orders dimension)"),
    QuerySpec("ev_weekend_lift", ev_weekend_lift,
              ORACLE_WEEKEND_LIFT, ("events", "stats", "seasonality"),
              doc="weekend share + calendar-baseline lift of events "
                  "and spend per type (UTC epoch-day weekday index)"),
    QuerySpec("mm_chunk_cdc_profile", mm_chunk_cdc_profile,
              ORACLE_CHUNK_CDC, ("multimodal", "dedup"),
              doc="content-defined chunking profile per media type: "
                  "rolling byte-pair-hash boundaries, chunk stats, "
                  "cross-corpus duplicate-chunk share"),
    # --- continuation batch E (r13 backlog) ---
    QuerySpec("ev_hourly_load_gini", ev_hourly_load_gini,
              ORACLE_HOURLY_LOAD_GINI, ("events", "stats", "capacity"),
              doc="Gini of zero-filled hourly event load per type "
                  "(exact rearrangement form over the calendar spine)"),
    QuerySpec("sketch_hll_precision_sweep", sketch_hll_precision_sweep,
              _oracle_hll_sweep(), ("sketch", "tuning"),
              doc="deterministic fixed-md5 HLL at m=16/64/256 with "
                  "exact integer harmonic sums, estimates and relative "
                  "error vs exact distinct (register-budget tuning)"),
    QuerySpec("join_asof_tolerance", join_asof_tolerance,
              ORACLE_ASOF_TOLERANCE, ("join", "temporal"),
              doc="backward as-of join with a 7-day staleness "
                  "tolerance (merge_asof tolerance surface; stale "
                  "matches null out)"),
    QuerySpec("emb_cluster_silhouette", emb_cluster_silhouette,
              ORACLE_CLUSTER_SILHOUETTE, ("embedding", "kmeans",
                                          "audit"),
              doc="per-cluster simplified silhouette on the integer "
                  "grid (mean/min/boundary share — which clusters are "
                  "tight vs boundary-ridden)"),
    # --- continuation batch F (r13 backlog) ---
    QuerySpec("lineitem_promo_did", lineitem_promo_did,
              ORACLE_PROMO_DID, ("lineitem", "stats", "causal"),
              doc="difference-in-differences of the discount rate, "
                  "PROMO vs other parts before/after the shipdate-span "
                  "midpoint (4-cell grid + integer DiD of micro means)"),
    QuerySpec("graph_neardup_modularity", graph_neardup_modularity,
              _oracle_neardup_modularity(), ("dedup", "graph",
                                             "provenance"),
              doc="Newman modularity of the source partition on the "
                  "near-dup graph (intra-source template reuse vs "
                  "cross-source syndication) — exact signed rational"),
    QuerySpec("text_char_entropy_by_source", text_char_entropy_by_source,
              ORACLE_CHAR_ENTROPY, ("text", "stats", "quality"),
              doc="Shannon char-distribution entropy per source via "
                  "the 9dp c·ln c decimal-sum pattern (compressibility "
                  "/ diversity screen)"),
    # --- continuation batch G (r13 backlog) ---
    QuerySpec("emb_pq_codebook_utilization", emb_pq_codebook_utilization,
              _oracle_pq_utilization(), ("embedding", "ann", "audit"),
              doc="per-(subspace, codeword) PQ assignment counts + "
                  "Simpson balance index over the dense K x M grid "
                  "(code-bit waste audit next to pq_distortion)"),
    QuerySpec("graph_neardup_conductance", graph_neardup_conductance,
              _oracle_neardup_conductance(), ("dedup", "graph",
                                              "provenance"),
              doc="per-source conductance on the near-dup graph "
                  "(normalized cut: which individual source leaks "
                  "duplication across provenance lines)"),
    QuerySpec("ev_session_bounce_profile", ev_session_bounce_profile,
              _oracle_session_bounce(), ("events", "sessions"),
              doc="daily bounce share + mean events/session of the "
                  "30-min sessionization (engagement-quality trend)"),
    # --- round-13 batch (window slots 31-36) ---
    QuerySpec("text_pii_pattern_audit", text_pii_pattern_audit,
              ORACLE_PII_AUDIT, ("text", "pii", "curation"),
              doc="per-source email/IPv4/phone/long-id pattern exposure "
                  "counts + flagged-doc share (pre-release PII screen; "
                  "engine-portable regex subset)"),
    QuerySpec("text_composite_quality_score", text_composite_quality_score,
              ORACLE_COMPOSITE_QUALITY, ("text", "quality", "curation"),
              doc="five integer quality gates folded into one 0..100 "
                  "composite; per-source score histogram with exact "
                  "shares"),
    QuerySpec("mm_cdc_snapshot_delta", mm_cdc_snapshot_delta,
              ORACLE_CDC_SNAPSHOT_DELTA, ("multimodal", "dedup", "cdc"),
              doc="cross-snapshot CDC chunk delta per media type: "
                  "shared/added/removed chunks and bytes + transfer "
                  "savings share (incremental-ingest audit)"),
    QuerySpec("ev_interarrival_burstiness", ev_interarrival_burstiness,
              ORACLE_INTERARRIVAL_BURSTINESS, ("events", "stats"),
              doc="Goh-Barabasi burstiness + CV of per-user inter-event "
                  "gaps per type (bot-vs-human traffic-shape "
                  "fingerprint; exact integer moments)"),
    QuerySpec("ev_interval_coverage_join", ev_interval_coverage_join,
              ORACLE_INTERVAL_COVERAGE, ("events", "join", "temporal"),
              doc="point-in-interval join via hour-bucket co-location "
                  "(<=2 buckets per 30-min window, pure equi-join; "
                  "never an inequality cross product)"),
    QuerySpec("sketch_grid_quantile_error", sketch_grid_quantile_error,
              ORACLE_GRID_QUANTILE_ERROR, ("sketch", "stats", "events"),
              doc="1024-bin equi-width quantile sketch estimates next "
                  "to exact type-1 p50/p90/p99 with integer error "
                  "columns (the approx-percentile error certificate)"),
    # --- continuation batch H (r14 backlog) ---
    QuerySpec("text_pii_redaction_corpus", text_pii_redaction_corpus,
              ORACLE_PII_REDACTION, ("text", "pii", "pipeline"),
              doc="typed-placeholder PII redaction corpus with per-doc "
                  "counts + redacted-text md5 (shape-based sibling of "
                  "text_redact_denylist; zero-shuffle map pass)"),
    QuerySpec("mm_chunk_size_quantiles", mm_chunk_size_quantiles,
              ORACLE_CHUNK_SIZE_QUANTILES, ("multimodal", "cdc", "stats"),
              doc="exact type-1 p50/p90/p99 of CDC chunk lengths per "
                  "media type (the under-splitting tail the mean "
                  "hides)"),
    QuerySpec("text_bigram_entropy_rate", text_bigram_entropy_rate,
              ORACLE_BIGRAM_ENTROPY_RATE, ("text", "quality", "stats"),
              doc="per-source bigram conditional entropy H(next|prev) "
                  "via the c*ln(c) decimal-sum pattern (template/loop "
                  "text screen)"),
    QuerySpec("join_asof_forward", join_asof_forward,
              ORACLE_ASOF_FORWARD, ("join", "temporal"),
              doc="forward as-of join: next order at-or-after each "
                  "event with integer-floor lead hours (completes the "
                  "as-of family)"),
    QuerySpec("ev_tenure_churn_hazard", ev_tenure_churn_hazard,
              ORACLE_TENURE_CHURN, ("events", "stats", "retention"),
              doc="discrete survival table over user tenure weeks "
                  "(ending/censored/at-risk + hazard; by-age complement "
                  "of the lifecycle ledger)"),
    QuerySpec("emb_cell_purity_by_label", emb_cell_purity_by_label,
              ORACLE_CELL_PURITY, ("embedding", "lsh", "stats"),
              doc="majority-label share per sign-grid cell (bucket-"
                  "grain homophily: is LSH bucketing label-separating?)"),
    QuerySpec("mm_magic_mismatch_audit", mm_magic_mismatch_audit,
              ORACLE_MAGIC_MISMATCH, ("multimodal", "audit"),
              doc="declared-vs-sniffed container class cross-tab from "
                  "leading magic bytes (mislabeled-asset ingest QA; "
                  "planted GIF/PDF/RIFF/ZIP twin)"),
    # --- continuation batch I (r14 backlog) ---
    QuerySpec("emb_anisotropy_mean_vector", emb_anisotropy_mean_vector,
              ORACLE_ANISOTROPY, ("embedding", "audit", "stats"),
              doc="mean-vector norm vs mean norm on the 2^-20 grid "
                  "(cosine-contrast collapse / common-direction audit)"),
    QuerySpec("text_source_tf_cosine_matrix", text_source_tf_cosine_matrix,
              ORACLE_SOURCE_TF_COSINE, ("text", "stats", "provenance"),
              doc="pairwise term-frequency cosine between sources "
                  "(weighted complement of the vocab Jaccard matrix; "
                  "exact integer dots)"),
    QuerySpec("sketch_linear_counting_error", sketch_linear_counting_error,
              ORACLE_LINEAR_COUNTING, ("sketch", "agg"),
              doc="linear-counting distinct estimate next to the exact "
                  "count per event type (fixed md5 bitmap; the "
                  "small-range sketch regime)"),
    QuerySpec("ev_error_rate_by_load", ev_error_rate_by_load,
              ORACLE_ERROR_RATE_BY_LOAD, ("events", "stats", "capacity"),
              doc="error share per hourly-load decile (type-1 hour "
                  "ranks; does reliability degrade under load?)"),
    QuerySpec("stats_theil_index_by_nation", stats_theil_index_by_nation,
              ORACLE_THEIL_BY_NATION, ("stats", "customer"),
              doc="Theil T inequality of positive balances decomposed "
                  "by nation (within + between terms; the decomposable "
                  "Gini complement)"),
    # --- continuation batch J (r14 backlog) ---
    QuerySpec("ev_type_hourly_corr_matrix", ev_type_hourly_corr_matrix,
              ORACLE_TYPE_HOURLY_CORR, ("events", "stats"),
              doc="Pearson correlation between hourly volumes of every "
                  "type pair over the dense hour grid (shared-driver / "
                  "cannibalization read)"),
    QuerySpec("stats_evt_gumbel_daily_max", stats_evt_gumbel_daily_max,
              ORACLE_GUMBEL_DAILY_MAX, ("stats", "events", "capacity"),
              doc="method-of-moments Gumbel fit to daily max spend per "
                  "type + 30-day return level (extreme-value sizing "
                  "beyond p99)"),
    QuerySpec("mm_chunk_boundary_stability", mm_chunk_boundary_stability,
              ORACLE_CHUNK_BOUNDARY_STABILITY, ("multimodal", "cdc",
                                                "dedup"),
              doc="chunk-hash survival share after a 1-byte prepend to "
                  "every payload (the shift-robustness certificate CDC "
                  "exists to earn)"),
    QuerySpec("corpus_token_budget_by_quality",
              corpus_token_budget_by_quality, ORACLE_TOKEN_BUDGET,
              ("text", "quality", "pipeline"),
              doc="cumulative docs/tokens surviving each composite-"
                  "quality threshold (the quality-bar vs token-budget "
                  "trade-off curve)"),
    # --- continuation batch K (r14 backlog) ---
    QuerySpec("corpus_lang_rebalance_plan", corpus_lang_rebalance_plan,
              ORACLE_LANG_REBALANCE, ("text", "pipeline", "multilingual"),
              doc="per-language token mass vs uniform target with exact "
                  "up/down-sample factors (the multilingual mixture "
                  "knob)"),
    QuerySpec("orders_hhi_monthly_trend", orders_hhi_monthly_trend,
              ORACLE_HHI_MONTHLY, ("orders", "stats", "drift"),
              doc="monthly HHI revenue concentration over customers + "
                  "effective customer count (consolidation trend)"),
    # --- continuation batch L (r14 backlog) ---
    QuerySpec("ev_order_event_reconciliation", ev_order_event_reconciliation,
              ORACLE_ORDER_EVENT_RECON, ("events", "orders", "audit"),
              doc="daily purchase-event vs order-ledger reconciliation "
                  "via forward as-of within 7 days (two-system "
                  "integrity check)"),
    QuerySpec("ev_attribution_window_sweep", ev_attribution_window_sweep,
              ORACLE_ATTR_SWEEP, ("events", "temporal", "attribution"),
              doc="share of purchases with a prior click within "
                  "1h/6h/24h/7d from ONE backward as-of pass (window-"
                  "length sensitivity table)"),
    QuerySpec("corpus_dup_quality_crosstab", corpus_dup_quality_crosstab,
              ORACLE_DUP_QUALITY_CROSSTAB, ("text", "dedup", "quality"),
              doc="exact-dup membership x composite-quality band "
                  "cross-tab (are dedup and quality filtering "
                  "redundant or complementary?)"),
    QuerySpec("ev_zipf_user_activity", ev_zipf_user_activity,
              ORACLE_ZIPF_USER, ("events", "stats", "audit"),
              doc="Zipf slope of top-user activity per type (bot-swarm "
                  "flatness vs organic heavy tail; traffic-shape "
                  "sibling of the vocabulary fit)"),
    # --- continuation batch M (r14 backlog) ---
    QuerySpec("corpus_pack_efficiency_by_window",
              corpus_pack_efficiency_by_window, ORACLE_PACK_SWEEP,
              ("text", "pipeline", "capacity"),
              doc="windows needed + padding waste at 1k/2k/4k/8k "
                  "context lengths (the sequence-length sizing table; "
                  "one map pass, four integer masks)"),
    QuerySpec("mm_payload_periodicity_probe", mm_payload_periodicity_probe,
              ORACLE_PERIODICITY, ("multimodal", "stats", "audit"),
              doc="byte-lag autocorrelation at dyadic lags 2/4/8/16 per "
                  "media type (fixed-record container structure probe; "
                  "JVM fold, no position explode)"),
    QuerySpec("stats_weekend_mix_ztest", stats_weekend_mix_ztest,
              ORACLE_WEEKEND_MIX_ZTEST, ("stats", "events"),
              doc="two-proportion z per type: this type's weekend share "
                  "vs all other events (the inference layer on the "
                  "weekend-lift point estimate)"),
    QuerySpec("emb_intrinsic_dim_twonn", emb_intrinsic_dim_twonn,
              ORACLE_TWONN, ("embedding", "ann", "stats"),
              doc="TwoNN intrinsic-dimension estimate from a 256-probe "
                  "broadcast set (manifold dim that IVF/PQ/LSH tuning "
                  "keys off)"),
    # --- batch N (new in r14) ---
    QuerySpec("orders_pvm_decomposition", orders_pvm_decomposition,
              ORACLE_PVM, ("orders", "finance", "bridge"),
              doc="price-volume-mix revenue bridge per brand between two "
                  "years (exact telescoping effects, signed rational "
                  "readout)"),
    QuerySpec("stats_jackknife_influence", stats_jackknife_influence,
              ORACLE_JACKKNIFE, ("stats", "robustness"),
              doc="delete-one-nation jackknife influence on the global "
                  "mean order value (exact rational LOO means)"),
    QuerySpec("stats_power_analysis_mde", stats_power_analysis_mde,
              ORACLE_MDE, ("stats", "experiment"),
              doc="minimum-detectable-effect / is-it-powered readout for "
                  "the production A/B split at the 5%/80% design point"),
    QuerySpec("ev_seasonality_strength", ev_seasonality_strength,
              ORACLE_SEASONALITY, ("events", "stats", "seasonality"),
              doc="hour-of-day eta^2 per event type: share of (date,hour) "
                  "cell variance explained by the clock (capacity-"
                  "planning signal)"),
    QuerySpec("ev_sequence_pattern_match", ev_sequence_pattern_match,
              ORACLE_SEQ_PATTERNS, ("events", "sequence", "pattern"),
              doc="MATCH_RECOGNIZE-style regex pattern library over "
                  "capped per-user event-initial strings (double error, "
                  "error->purchase recovery, signup->purchase)"),
    QuerySpec("mm_prefix_hash_audit", mm_prefix_hash_audit,
              ORACLE_PREFIX_HASH_AUDIT, ("multimodal", "dedup", "audit"),
              doc="prefix-fingerprint false-merge audit: prefix vs full-"
                  "payload md5 groups per media type (what the cheap "
                  "bucket key costs; the verify-tier workload)"),
    QuerySpec("emb_probe_hubness", emb_probe_hubness,
              ORACLE_PROBE_HUBNESS, ("embedding", "ann", "audit"),
              doc="k-occurrence hubness + mutual-kNN reciprocity over "
                  "the 256-probe exact 5-NN graph (curse-of-"
                  "dimensionality / graph-index health signals)"),
    QuerySpec("emb_prefix_dim_recall", emb_prefix_dim_recall,
              ORACLE_PREFIX_RECALL, ("embedding", "ann", "tuning"),
              doc="Matryoshka truncation sweep: exact top-10 recall at "
                  "8/16/32 prefix dims vs the full 64 (retrieval "
                  "counterpart of emb_energy_prefix)"),
    QuerySpec("dedup_lsh_band_planner", dedup_lsh_band_planner,
              ORACLE_BAND_PLANNER, ("dedup", "lsh", "tuning"),
              doc="(bands x rows) sweep over the production MinHash "
                  "signatures: measured candidate cost + measured recall "
                  "per config (the knob table dedup_band_precision_"
                  "profile's shipped-config view cannot give)"),
    QuerySpec("dedup_method_confusion", dedup_method_confusion,
              ORACLE_METHOD_CONFUSION, ("dedup", "audit"),
              doc="MinHash-LSH vs SimHash verified-pair confusion cells "
                  "(are the two near-dup screens redundant or "
                  "complementary?)"),
    # --- batch O (r14 continuation; r15 window backlog) ---
    QuerySpec("ev_slo_burn_rate", ev_slo_burn_rate, ORACLE_SLO_BURN,
              ("events", "sre", "slo"),
              doc="daily + trailing-7d error-budget burn rates vs a 1% "
                  "SLO with exact-integer 14.4x/6x alert flags (the SRE "
                  "multiwindow page math)"),
    QuerySpec("stats_cochran_armitage_trend", stats_cochran_armitage_trend,
              ORACLE_COCHRAN_ARMITAGE, ("stats", "trend", "events"),
              doc="Cochran-Armitage purchase-share trend z across weekly "
                  "periods (ordered-k-group proportion trend test)"),
    QuerySpec("stats_mcnemar_weekend_purchase",
              stats_mcnemar_weekend_purchase, ORACLE_MCNEMAR,
              ("stats", "events", "paired"),
              doc="McNemar paired discordant-cell test: same-user "
                  "weekend-vs-weekday purchase behaviour (exact rational "
                  "chi^2 + Class B z)"),
    QuerySpec("stats_bh_fdr_weekend", stats_bh_fdr_weekend, ORACLE_BH_FDR,
              ("stats", "multiple-testing"),
              doc="Benjamini-Hochberg FDR step-up over the weekend-mix z "
                  "family via precomputed erfc-bisected threshold "
                  "literals (no engine-side inverse CDF)"),
    QuerySpec("emb_kmeans_elbow", emb_kmeans_elbow, ORACLE_KMEANS_ELBOW,
              ("embedding", "clustering", "tuning"),
              doc="Lloyd inertia at k=2/4/8/16 on the exact fixed-point "
                  "kmeans machinery (the cluster-count elbow table; "
                  "per-k unrolled CTE oracle)"),
    QuerySpec("sim_lsh_recall_by_corpus_scale",
              sim_lsh_recall_by_corpus_scale, ORACLE_LSH_RECALL_BY_SCALE,
              ("similarity", "ann", "tuning"),
              doc="exact recall@10 of the shipped 16-table LSH on md5 "
                  "corpus subsamples (25/50/100%) - the does-recall-"
                  "degrade-at-scale curve on the real index machinery"),
    # --- batch P (r14 continuation; r15 window backlog) ---
    QuerySpec("emb_sq_bits_sweep", emb_sq_bits_sweep, ORACLE_SQ_BITS,
              ("embedding", "quantization", "tuning"),
              doc="scalar-quantization RMSE + clip share at 2/4/6/8 bits "
                  "on the 2^-20 grid (the int4-vs-int8 decision curve)"),
    QuerySpec("stats_simpson_paradox_probe", stats_simpson_paradox_probe,
              ORACLE_SIMPSON, ("stats", "events", "audit"),
              doc="aggregation-reversal audit of the weekend value lift: "
                  "per-type vs pooled sign on exact cross-multiplied "
                  "integers + the global Simpson flag"),
    QuerySpec("ev_lead_lag_xcorr", ev_lead_lag_xcorr, ORACLE_LEAD_LAG,
              ("events", "stats", "timeseries"),
              doc="lead-lag Pearson r of hourly type loads at lags 0/1/2 "
                  "(does A lead B by an hour - the funnel question the "
                  "lag-0 matrix cannot answer)"),
    QuerySpec("stats_qte_weekend_value", stats_qte_weekend_value,
              ORACLE_QTE, ("stats", "events", "percentile"),
              doc="quantile treatment effect of the weekend on event "
                  "value: exact type-1 decile differences in cents (the "
                  "distributional lift a mean hides)"),
    QuerySpec("sim_ann_rank_quality", sim_ann_rank_quality,
              ORACLE_ANN_RANK_QUALITY, ("similarity", "ann", "eval"),
              doc="MRR@10 + mean nDCG@10 of the shipped LSH vs the exact "
                  "top-10 (rank quality beyond recall; decimal-summed "
                  "per-rank terms)"),
    QuerySpec("dedup_shingle_size_sweep", dedup_shingle_size_sweep,
              ORACLE_SHINGLE_SWEEP, ("dedup", "tuning"),
              doc="word-shingle size sweep n=2/3/4 at fixed tau: "
                  "candidate volume vs tau-passing yield on the real "
                  "inverted-index machinery (the n-axis of the config "
                  "plane; threshold_sweep covers the tau-axis)"),
    # --- batch Q (r14 continuation; r15 window backlog) ---
    QuerySpec("stats_weekend_effect_heterogeneity",
              stats_weekend_effect_heterogeneity, ORACLE_WEEKEND_HET,
              ("stats", "meta", "events"),
              doc="Cochran's Q + I^2 heterogeneity of the per-type "
                  "weekend value effect (the interaction question in "
                  "unbalanced-robust inverse-variance form)"),
    QuerySpec("stats_effect_size_weekend", stats_effect_size_weekend,
              ORACLE_EFFECT_SIZE, ("stats", "events"),
              doc="Cohen's d + Hedges g of the weekend value effect per "
                  "type (the magnitude readout next to the z tests)"),
    QuerySpec("stats_interrupted_time_series",
              stats_interrupted_time_series, ORACLE_ITS,
              ("stats", "timeseries", "causal"),
              doc="segmented pre/post OLS at the feed midpoint: slope "
                  "and level changes of daily purchase volume (the ITS "
                  "release-impact readout)"),
    QuerySpec("text_length_dup_bias", text_length_dup_bias,
              ORACLE_LENGTH_DUP_BIAS, ("text", "dedup", "audit"),
              doc="exact-dup rate by length quartile (length-conditioned "
                  "dedup budget: where do duplicates actually live?)"),
    QuerySpec("ev_changepoint_binary_seg", ev_changepoint_binary_seg,
              ORACLE_CHANGEPOINT, ("events", "timeseries", "stats"),
              doc="single-split binary-segmentation changepoint on daily "
                  "volume: argmax between-segment SS + variance "
                  "explained (the WHERE answer CUSUM's path extrema "
                  "don't give)"),
    # --- batch R (r14 continuation; r15 window backlog) ---
    QuerySpec("mm_dedup_net_savings", mm_dedup_net_savings,
              ORACLE_DEDUP_NET_SAVINGS, ("multimodal", "dedup",
                                         "capacity"),
              doc="staged dedup storage ROI per media type: exact-dup "
                  "bytes saved + extra CDC chunk savings among "
                  "survivors (is chunk-level dedup worth its index?)"),
    QuerySpec("graph_adamic_adar", graph_adamic_adar,
              ORACLE_ADAMIC_ADAR, ("graph", "dedup", "linkpred"),
              doc="Adamic-Adar 1/ln(deg) weighted link prediction on "
                  "the near-dup graph (hub-discounting upgrade of "
                  "graph_common_neighbors)"),
    QuerySpec("stats_hash_split_fairness", stats_hash_split_fairness,
              ORACLE_HASH_FAIRNESS, ("stats", "audit", "governance"),
              doc="exact-integer chi-square uniformity audit of the "
                  "house md5 assignment lane (governance for every "
                  "hash-split op)"),
    QuerySpec("orders_cohort_ndr", orders_cohort_ndr, ORACLE_COHORT_NDR,
              ("orders", "cohort", "finance"),
              doc="net dollar retention by first-order-year cohort "
                  "(next-year revenue share of acquisition-year "
                  "revenue, exact cents)"),
    QuerySpec("ev_type_mix_drift_weekly", ev_type_mix_drift_weekly,
              ORACLE_TYPE_MIX_DRIFT, ("events", "drift", "monitoring"),
              doc="week-over-week type-mix total-variation drift with "
                  "the top-moving type (traffic-shape monitoring; "
                  "exact rational TV)"),
]
