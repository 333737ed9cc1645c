"""Deduplication operators over the ``documents`` table.

The reference has no dedup surface (SURVEY.md §2.4); these are the
north-star LLM-pipeline operators (BASELINE.json), built Spark-first:

- exact dedup        — md5 content hash, hash-groupBy (one shuffle)
- n-gram Jaccard     — inverted-index self-join on word-3-gram shingles with
                       document-frequency pruning (the classic scalable
                       near-dup join: no O(n²) pair enumeration)
- MinHash + LSH      — Kirsch-Mitzenmacher permutations, banded candidate
                       join, exact-Jaccard verification of candidates
- SimHash            — 60-bit md5-derived fingerprint, 4×15-bit band join
                       (pigeonhole-complete for hamming ≤ 3), popcount verify

Every hash derives from MD5 (functions/hashing.py) so the DuckDB oracle
reproduces the *entire* pipeline bit-for-bit — the correctness gate checks
the real algorithm, not a statistical proxy.

Scale posture (100 TB): every stage is explode → shuffle-on-key → groupBy;
no driver-side state, no cross join. Knobs: MAX_DF bounds inverted-index
blowup from stop-shingles; band width trades candidate volume vs recall
(b=25, r=4 → P(candidate | j=0.8) ≈ 1 - (1-0.8⁴)²⁵ ≈ 1 - 2·10⁻⁶).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import catalog
from ..functions.hashing import MERSENNE31
from ..functions.texts import char_shingles, word_ngrams
from ..functions.numeric import (
    rat_round6_duck,
    rat_round6_signed_duck,
    rat_round6_signed_spark,
    rat_round6_spark,
)
from ..functions.hashing import minhash_signature
from ..registry import QuerySpec

NGRAM = 3
MAX_DF = 100  # drop shingles appearing in more docs (stop-shingle pruning)
JACCARD_TAU = 0.8
MINHASH_PERMS = 100
MINHASH_BANDS = 25  # 25 bands × 4 rows
MINHASH_R = 4
MINHASH_TAU = 0.7
SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 4 bands × 15 bits: complete for hamming distance ≤ 3
SIMHASH_MAXHAM = 3

# The one canonical 60-bit SimHash signature expression over ``text`` —
# shared by dedup_simhash and the bit-bias audit
# (analytics.dedup_simhash_bit_bias) so both surfaces fingerprint
# identically. Kept byte-identical to the original inline form.
SIMHASH_SIG_SQL = f"""aggregate(
              zip_with(
                aggregate(
                  transform(split(text, ' '),
                            w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)),
                  array_repeat(cast(0 as bigint), {SIMHASH_BITS}),
                  (acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}),
                                       (a, i) -> a + ((h >> i) & 1) * 2 - 1)
                ),
                sequence(0, {SIMHASH_BITS - 1}),
                (tot, i) -> if(tot > 0, shiftleft(cast(1 as bigint), i),
                               cast(0 as bigint))
              ),
              cast(0 as bigint), (acc, x) -> acc + x
            )"""

# DuckDB twin of SIMHASH_SIG_SQL as a reusable CTE prefix (the text of
# ORACLE_SIMHASH's tok/bits/votes/sig chain) — composed into both that
# oracle and the bit-bias oracle.
SIMHASH_SIG_CTES = f"""tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
bits AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h, i
  FROM tok, LATERAL unnest(range(0, {SIMHASH_BITS})) AS u(i)
),
votes AS (
  SELECT doc_id, i, SUM(((h >> i) & 1) * 2 - 1) AS tot
  FROM bits GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN tot > 0 THEN 1::BIGINT << i ELSE 0 END) AS simhash
  FROM votes GROUP BY 1
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "documents")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with the shingle/signature map stage PINNED to
    defaultParallelism partitions. The fixture corpus is one small
    parquet split and the per-doc higher-order shingle/hash expressions
    are CPU-heavy per byte — without this, the whole map stage runs as
    ONE task, and AQE's byte-based coalescing would undo a plain
    ``repartition("doc_id")`` (a few MB of text looks coalescible;
    measured 3.0s → 1.35s for minhash, 3.1s → 1.4s for ngram-jaccard at
    sf0.1). The explicit count survives AQE; at real scale the scan has
    thousands of splits, :func:`catalog.load_par`'s size guard sees the
    corpus exceed one split, and the insurance shuffle disappears from the
    plan entirely (r14 optimization round: previously unconditional)."""
    return catalog.load_par(spark, sf_dir, "documents", "doc_id")


# DuckDB rendering of the distinct word-3-gram shingle list (1-indexed).
_DUCK_SHINGLES = """
SELECT doc_id,
       list_distinct(list_transform(
         generate_series(1, greatest(len(ws) - 2, 1)),
         i -> CASE WHEN len(ws) >= 3
                   THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   ELSE text END)) AS shingles
FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
"""


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def dedup_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters of byte-identical documents (keeper = min doc_id)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("content_hash")
    )


ORACLE_EXACT_CLUSTERS = """
SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY content_hash
"""


def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row summary: corpus size, surviving count, dropped count."""
    return _docs(spark, sf_dir).agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.md5("text")).alias("n_kept"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dropped"),
    )


ORACLE_EXACT_STATS = """
SELECT COUNT(*) AS n_total, COUNT(DISTINCT md5(text)) AS n_kept,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dropped
FROM documents
"""


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup (inverted-index join, DF-pruned)
# --------------------------------------------------------------------------

def bucket_pairs(
    buckets: DataFrame,
    ids: str = "ids",
    keep=(),
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Every in-bucket pair of a frame whose ``ids`` column holds a
    sorted array: one row ``(*keep, a, b)`` per index pair i < j, so
    ``a < b`` under the array's order (items may be structs). Singleton
    and empty buckets yield no rows.

    The pair expansion behind every inverted-index and LSH candidate
    stage: one groupBy builds the buckets, then this map-side
    ``explode`` enumerates each bucket's pairs — never a self-join,
    whose plan duplicates the bucket build per side. Callers keep their
    own bucket build (collect_list or collect_set, size filters) and
    their own tail (count, distinct, checkpoint)."""
    pair = (
        f"flatten(transform({ids}, (x, i) -> "
        f"transform(slice({ids}, i + 2, size({ids}) - i - 1), "
        f"y -> struct(x as {a}, y as {b}))))"
    )
    return buckets.select(
        *keep, F.explode(F.expr(pair)).alias("p")
    ).select(*keep, f"p.{a}", f"p.{b}")


def _pair_sims(sh: DataFrame) -> DataFrame:
    """Shared inverted-index candidate machinery over a (doc_id, sh)
    stream: every nonzero-overlap pair with its intersection and both
    set sizes — (doc_a, doc_b, inter, na, nb), doc_a < doc_b.

    Inverted index in ONE shuffle: group the postings list per shingle.
    Stop-shingle pruning (a shingle in >MAX_DF docs contributes O(df²)
    pairs) is just a size filter on the postings list — the r1 version
    paid a separate full-stream window shuffle for the DF count, and then
    a self-join that recomputed the exploded stream per branch. Sizes and
    pairs share only the shingle shuffle (ReusedExchange): the
    ``collect_list`` aggregation behind the postings runs once per branch,
    and AQE coalesces each run to one task. No persist: the postings
    frame is O(distinct shingles), corpus-scale. A variant that runs the
    aggregation once, with self-pairs carrying the sizes, was slower on
    dedup_ngram_jaccard at sf0.01 (median 1.49 → 1.73 s over 8
    interleaved passes)."""
    postings = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= MAX_DF)
    )
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    # ids sorted → doc_a < doc_b; count how many shingles each pair
    # shares = |intersection|.
    pairs = (
        bucket_pairs(postings.filter(F.size("ids") > 1))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sx = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sy = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return pairs.join(sx, "doc_a").join(sy, "doc_b")


def _jaccard_over_shingles(sh: DataFrame, tau: float) -> DataFrame:
    """Near-dup pairs at Jaccard >= tau over the shared candidate
    machinery (:func:`_pair_sims`)."""
    return (
        _pair_sims(sh)
        .withColumn(
            "jaccard",
            F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_par(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(word_ngrams("text", NGRAM)).alias("sh")
    )
    return _jaccard_over_shingles(sh, JACCARD_TAU)


CHAR_K = 16


def dedup_char_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-16-gram Jaccard near-dup: robust to tokenization noise
    (whitespace/punctuation edits shift words but leave most char windows
    intact). Same inverted-index machinery as the word variant."""
    docs = _docs_par(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(char_shingles("text", CHAR_K)).alias("sh")
    )
    return _jaccard_over_shingles(sh, JACCARD_TAU)


# Shared CTE block: word-3-gram shingles → DF-pruned postings → candidate
# pairs with intersection counts. Used by the pair query and the
# connected-components closure below, so the two oracles can never drift.
_NGRAM_PAIR_CTES = f"""g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              ELSE text END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)
),
gs AS (SELECT DISTINCT doc_id, sh FROM g),
pruned AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM gs)
  WHERE df <= {MAX_DF}
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM pruned GROUP BY 1),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

ORACLE_NGRAM_JACCARD = f"""
WITH {_NGRAM_PAIR_CTES}
SELECT doc_a, doc_b,
       inter * 1.0 / (x.n + y.n - inter) AS jaccard
FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (AllPairs / PPJoin candidate scheme)
# --------------------------------------------------------------------------

def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (the AllPairs /
    PPJoin family of the public similarity-join literature) — the
    provably COMPLETE candidate scheme next to this module's two lossy
    ones (``dedup_ngram_jaccard`` drops stop-shingles above MAX_DF;
    MinHash-LSH is probabilistic). Each doc's shingle set is sorted by
    the canonical (document-frequency, shingle) order and only its
    PREFIX of length n − ceil(τ·n) + 1 enters the join: if
    J(A,B) ≥ τ = {JACCARD_TAU} the prefixes must intersect (if the
    minimal shared token were past either prefix, that side's overlap
    would already be capped below τ·n), so no qualifying pair can be
    missed — the oracle is the UNPRUNED brute-force join, making the
    driver row a completeness proof of the optimization. The τ filter
    is the exact integer cross-multiply 5·inter ≥ 4·union (τ = 4/5 —
    no float at the boundary).

    Scale: rare shingles lead the canonical order, so prefix postings
    are the LOW-df tail — the candidate join's per-shingle blowup is
    df², which prefix selection keeps small exactly where it matters
    (the stop-shingle df² explosion never enters the join); verification
    joins postings only for surviving candidate pairs."""
    docs = _docs_par(spark, sf_dir)
    # the postings list is reused by FIVE branches (df counts, prefix
    # ranking, both verify sides, sizes) — materialize it once, exactly
    # as a real similarity-join engine stages its inverted lists
    posts = (
        docs.select(
            "doc_id", F.explode(word_ngrams("text", NGRAM)).alias("sh")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfc = posts.groupBy("sh").agg(F.count("*").alias("df"))
    wdoc = W.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        posts.join(dfc, "sh")
        .withColumn("r", F.row_number().over(wdoc))
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.expr("r <= n - (4 * n + 4) div 5 + 1")
    ).select("doc_id", "sh")
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = posts.select(F.col("doc_id").alias("doc_a"), "sh")
    pb = posts.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    sz = posts.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    return (
        inter.join(sz.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("union_sz", F.col("na") + F.col("nb") - F.col("n_inter"))
        .filter(F.expr("5 * n_inter >= 4 * union_sz"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "union_sz",
            (F.col("n_inter") * 1.0 / F.col("union_sz")).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_PREFIX_FILTER = f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              ELSE text END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)
),
gs AS (SELECT DISTINCT doc_id, sh FROM g),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM gs GROUP BY 1),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM gs a JOIN gs b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
       x.n + y.n - n_inter AS union_sz,
       n_inter * 1.0 / (x.n + y.n - n_inter) AS jaccard
FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE 5 * n_inter >= 4 * (x.n + y.n - n_inter)
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------

def _minhash_stages(spark: SparkSession, sf_dir: str):
    """Shared MinHash pipeline up to the candidate pairs: (docs with
    shingles, signatures, banding candidates). Used by the dedup query
    (exact-verify tail) and the sketch-calibration report — one
    definition so the calibration measures the REAL production
    signatures, not a twin."""
    # See dedup_minhash_lsh's docstring comments for the design notes on
    # the repartition, the single-evaluation lambda binding, and the
    # groupBy pair expansion.
    docs = (
        _docs_par(spark, sf_dir)
        .select("doc_id", word_ngrams("text", NGRAM).alias("shingles"))
    )
    # NOTE (r14 optimization round): a vectorized Arrow signature stage
    # (JVM md5 lanes + one NumPy broadcast per doc for the 100-perm fold)
    # was built and A/B-measured ORDER-BALANCED against this expression —
    # bit-identical output, but a wash at sf0.1 (mins 1.95 vs 2.08s, medians
    # 2.76 vs 2.68s): the interpreted fold is ~0.15s here and the Arrow
    # boundary costs the same back. Kept JVM-only — no Python worker in the
    # core dedup path.
    sig = docs.select(
        "doc_id",
        F.expr(
            "transform(array("
            "  transform(transform(shingles, x -> md5(x)), m -> array("
            "    cast(conv(substring(m, 1, 7), 16, 10) as bigint), "
            "    1 + cast(conv(substring(m, 9, 7), 16, 10) as bigint)))"
            f"), hpv -> transform(sequence(0, {MINHASH_PERMS - 1}), s -> "
            f"array_min(transform(hpv, h -> (h[0] + s * h[1]) % {MERSENNE31}))"
            "))[0]"
        ).alias("sig"),
    )
    # The band key is purely internal (grouping only — never output), so
    # it is the raw (b, slice(sig, ...)) struct rather than a rendered
    # "b:v1,v2,.." string: two docs share the string iff they share the
    # struct (digit strings are comma/colon-free, so the rendering is
    # injective), which makes the bucket sets — and every downstream
    # number — identical by construction, while skipping 25 per-doc
    # int→string renders + concats before the exchange (r15 optimization
    # round, guide §2.3 "shuffle fewer bytes"/§1.2 per-task work:
    # measured on the band-planner family, string → struct key + one-pass
    # expansion took the planner 4.58s → 2.76s gated-min at sf0.1).
    # The equivalence also needs every sig slice to be all-null or
    # none-null: concat_ws skips nulls, so the string key rendered [x, null]
    # and [x] alike where the struct keeps them apart. array_min holds that
    # invariant today: every sig entry minimises over the same hash pairs,
    # so a doc's entries are all null (no shingles) or none are. Re-check
    # the equivalence if the sig stage changes.
    bands = (
        sig.select(
            "doc_id",
            "sig",
            F.explode(F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))).alias("b"),
        )
        .select(
            "doc_id",
            F.struct(
                F.col("b"),
                F.expr(f"slice(sig, b * {MINHASH_R} + 1, {MINHASH_R})")
                .alias("k"),
            ).alias("band_key"),
        )
    )
    cand = bucket_pairs(
        bands.groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    ).distinct()
    return docs, sig, cand


def _band_sweep(spark: SparkSession, sf_dir: str, configs) -> DataFrame:
    """MinHash-LSH banding cost and capture per (bands, rows-per-band)
    config over the production signatures (:func:`_minhash_stages`) —
    the kernel behind the two tuning sweeps, dedup_lsh_band_planner
    (bands × rows at 100 perms) and dedup_minhash_perm_sweep (a ``p``-perm
    signature is the config (p/4, 4), a prefix of the production one).

    One row per config: ``bands``, ``rpb``, ``n_buckets_multi`` (buckets
    holding >1 doc), ``cand_pairs_total`` (Σ C(m, 2) over those buckets —
    the candidate volume without bucket dedup), ``cand_pairs_distinct``,
    ``n_verified`` (distinct candidates at exact Jaccard ≥ MINHASH_TAU)
    and ``truth_n``: the union of every config's candidates,
    exact-verified — the measurable truth set (pairs no config can see
    are invisible to all of them by construction).

    Scale: the signature stage runs ONCE and is checkpointed; each
    config is a banded groupBy pair expansion (never a self-join), and
    the exact verify touches only the bounded candidate union."""
    docs, sig, _ = _minhash_stages(spark, sf_dir)
    sigc = sig.localCheckpoint(eager=True)  # one signature pass, all configs
    # r15 optimization round: every config expands in ONE pass over the
    # checkpointed signatures (exploded config literal array) instead of
    # a branch-per-config union — one scan leg, one codegen span — and
    # the band key is the raw (b, slice) struct instead of a rendered
    # string (the key is grouping-internal; digit renders are injective,
    # so the bucket sets are identical by construction). Gated
    # order-balanced A/B at sf0.1 on the band planner: 4.58s → 2.76s
    # min, output row-identical (OPTIMIZATION_r15.md).
    cfg_lit = F.array(
        *[
            F.struct(F.lit(b).alias("bands"), F.lit(r).alias("rpb"))
            for b, r in configs
        ]
    )
    allb = (
        sigc.select("doc_id", "sig", F.explode(cfg_lit).alias("c"))
        .select(
            "doc_id",
            F.col("c.bands").alias("bands"),
            F.col("c.rpb").alias("rpb"),
            "sig",
            F.explode(F.expr("sequence(0, c.bands - 1)")).alias("b"),
        )
        .select(
            "doc_id",
            "bands",
            "rpb",
            F.struct(
                F.col("b"), F.expr("slice(sig, b * rpb + 1, rpb)").alias("k")
            ).alias("band_key"),
        )
    )
    buckets = (
        allb.groupBy("bands", "rpb", "band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .localCheckpoint(eager=True)  # feeds totals + pair expansion
    )
    totals = buckets.groupBy("bands", "rpb").agg(
        F.count("*").alias("n_buckets_multi"),
        F.sum(F.expr("size(ids) * (size(ids) - 1) div 2"))
        .alias("cand_pairs_total"),
    )
    pairs = (
        bucket_pairs(buckets, keep=("bands", "rpb"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds counts + union + capture
    )
    pcnt = pairs.groupBy("bands", "rpb").agg(
        F.count("*").alias("cand_pairs_distinct")
    )
    up = pairs.select("doc_a", "doc_b").distinct()
    x = docs.select(F.col("doc_id").alias("doc_a"),
                    F.col("shingles").alias("sha"))
    y = docs.select(F.col("doc_id").alias("doc_b"),
                    F.col("shingles").alias("shb"))
    truth = (
        up.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(
            F.size(F.array_intersect("sha", "shb")) * 1.0
            / F.size(F.array_union("sha", "shb"))
            >= MINHASH_TAU
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)  # feeds global count + per-config
    )
    tn = truth.agg(F.count("*").cast("long").alias("truth_n"))
    ver = (
        pairs.join(truth, ["doc_a", "doc_b"], "semi")
        .groupBy("bands", "rpb")
        .agg(F.count("*").alias("n_verified"))
    )
    # The config literal is the row spine too: a one-row Range the
    # planner can size, so every per-config count joins by broadcast. A
    # createDataFrame spine is an RDD scan of unknown size, and under it
    # the verified-count join planned as a sort-merge join.
    spine = spark.range(1).select(F.explode(cfg_lit).alias("c")).select(
        "c.bands", "c.rpb"
    )
    counts = (
        "n_buckets_multi",
        "cand_pairs_total",
        "cand_pairs_distinct",
        "n_verified",
    )
    return (
        spine.join(totals, ["bands", "rpb"], "left")
        .join(pcnt, ["bands", "rpb"], "left")
        .join(ver, ["bands", "rpb"], "left")
        .crossJoin(F.broadcast(tn))
        .select(
            "bands",
            "rpb",
            *[F.coalesce(c, F.lit(0)).cast("long").alias(c) for c in counts],
            "truth_n",
        )
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The repartition("doc_id") serves ONE purpose now: parallelism. A
    # small-file corpus scans as few splits (sf0.1 = one row group = one
    # task) and the signature stage is the most compute-intensive map in
    # the engine (100 permutation lambdas × shingles per doc) — without a
    # redistribution it runs on one core. Keyed by doc_id so the x/y
    # verification joins below inherit the partitioning via alias
    # tracking. At 100 TB the scan has thousands of splits and this is
    # one keyed shuffle of (doc_id, shingles) — the narrowest frame that
    # still lets every branch skip re-splitting text.
    docs, sig, cand = _minhash_stages(spark, sf_dir)
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        # Length-ratio prune before the expensive intersect: J(A,B) ≥ τ
        # implies min(|A|,|B|) ≥ τ·max(|A|,|B|) — an implication, so no
        # true pair is lost and the oracle (which skips this) still agrees.
        .filter(
            (F.size("sha") * 1.0 >= MINHASH_TAU * F.size("shb"))
            & (F.size("shb") * 1.0 >= MINHASH_TAU * F.size("sha"))
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sha", "shb"))
            * 1.0
            / F.size(F.array_union("sha", "shb")),
        )
        .filter(F.col("jaccard") >= MINHASH_TAU)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


from ..functions.hashing import sql_minhash_signature_duck  # noqa: E402

ORACLE_CHAR_JACCARD = f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(text) >= {CHAR_K} THEN substr(text, i, {CHAR_K})
              ELSE text END AS sh
  FROM documents,
       LATERAL unnest(generate_series(1,
           greatest(len(text) - {CHAR_K} + 1, 1))) AS u(i)
),
gs AS (SELECT DISTINCT doc_id, sh FROM g),
postings AS (
  SELECT sh, list_sort(list(doc_id)) AS ids FROM gs GROUP BY sh
  HAVING COUNT(*) <= {MAX_DF}
),
sz AS (
  SELECT doc_id, COUNT(*) AS n
  FROM (SELECT unnest(ids) AS doc_id FROM postings) GROUP BY 1
),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM (SELECT sh, unnest(ids) AS doc_id FROM postings) a
  JOIN (SELECT sh, unnest(ids) AS doc_id FROM postings) b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       inter * 1.0 / (x.n + y.n - inter) AS jaccard
FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
ORDER BY doc_a, doc_b
"""


ORACLE_MINHASH_LSH = f"""
WITH shl AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id, shingles,
         {sql_minhash_signature_duck('shingles', MINHASH_PERMS)} AS sig
  FROM shl
),
bands AS (
  SELECT doc_id, b,
         b || ':' || array_to_string(
           sig[b * {MINHASH_R} + 1 : b * {MINHASH_R} + {MINHASH_R}], ',')
           AS band_key
  FROM sig, LATERAL unnest(range(0, {MINHASH_BANDS})) AS u(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       len(list_intersect(x.shingles, y.shingles)) * 1.0
         / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
FROM cand JOIN shl x ON doc_a = x.doc_id JOIN shl y ON doc_b = y.doc_id
WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0
        / len(list_distinct(list_concat(x.shingles, y.shingles)))
      >= {MINHASH_TAU}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_par(spark, sf_dir)
    # 60-bit token hash; per-bit weighted vote (term frequency implicit in
    # the non-distinct token list), then reassemble the sign vector into a
    # 60-bit fingerprint. All of it happens map-side in ONE projection with
    # higher-order array functions — the r1 version exploded tokens×60 bit
    # rows and shuffled them into groupBy(doc_id, i), a 60× amplification of
    # the token stream (VERDICT r1 item 6). Now the first shuffle is the
    # band join on O(docs) rows. Single-pass accumulator: each sub-expression
    # is referenced exactly once, so Catalyst's projection collapse computes
    # each token md5 once (cf. the exchange-barrier note in dedup_minhash_lsh).
    sig = docs.select("doc_id", F.expr(SIMHASH_SIG_SQL).alias("simhash"))
    bands = (
        sig.select(
            "doc_id",
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("j"),
        )
        .select(
            F.expr("concat(j, ':', (simhash >> (15 * j)) & 32767)").alias(
                "band_key"
            ),
            F.struct("doc_id", "simhash").alias("ds"),
        )
    )
    # Same groupBy-bucket pair expansion as dedup_minhash_lsh — one shuffle
    # of narrow band rows instead of a plan-duplicating self-join.
    buckets = (
        bands.groupBy("band_key")
        .agg(F.array_sort(F.collect_list("ds")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        bucket_pairs(buckets, a="a", b="b")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAXHAM)
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
bits AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h, i
  FROM tok, LATERAL unnest(range(0, {SIMHASH_BITS})) AS u(i)
),
votes AS (
  SELECT doc_id, i, SUM(((h >> i) & 1) * 2 - 1) AS tot
  FROM bits GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN tot > 0 THEN 1::BIGINT << i ELSE 0 END) AS simhash
  FROM votes GROUP BY 1
),
bands AS (
  SELECT doc_id, simhash, j,
         j || ':' || ((simhash >> (15 * j)) & 32767) AS band_key
  FROM sig, LATERAL unnest(range(0, {SIMHASH_BANDS})) AS u(j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) AS hamming
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) <= {SIMHASH_MAXHAM}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Connected components: pairwise near-dups → dedup groups
# --------------------------------------------------------------------------

CC_MAX_ITERS = 40


def cc_components(pairs: DataFrame, max_rounds: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair frame →
    (doc_id, comp) with comp = min node id of the component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): each round is two
    groupBy-join passes, and the edge set contracts toward per-component
    stars in O(log n) rounds — independent of graph DIAMETER, unlike
    min-label propagation, so a pathological million-doc near-dup chain
    converges in ~20 rounds instead of a million. Invariant maintained
    between steps: edges are directed high→low id.

    - large-star: every node links its LARGER neighbors to the smallest
      node of its closed neighborhood.
    - small-star: every node links its smaller neighbors (and itself) to
      that minimum.

    Convergence detected by an (edge-count, xxhash64-sum) signature of
    the canonical edge set staying fixed; ``max_rounds`` backstops with a
    loud failure rather than a silently wrong partition."""
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_rounds):
        # large-star over the SYMMETRIC neighborhood
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over high→low edges (large's output is high→low:
        # every emitted (v, m) has v > u ≥ m)
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        stars = large.join(mins2, "u").select(
            "u", "v", F.col("mn").alias("m")
        )
        relink = stars.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selflink = stars.select("u", F.col("m").alias("v"))
        edges = (
            relink.union(selflink)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig_row = edges.agg(
            F.count("*").alias("n"),
            # decimal sum: exact and overflow-free under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} rounds"
        )
    # Fixed point = stars: every non-root appears exactly once as u → root.
    return edges.select(F.col("u").alias("doc_id"), F.col("v").alias("comp")).union(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("comp"))
    ).distinct()


def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the n-gram-Jaccard near-dup pair graph —
    the step that turns pairwise matches into dedup GROUPS (a training
    pipeline keeps one document per component, not one per pair).
    Components via :func:`cc_components` (alternating star contraction,
    O(log n) rounds, no driver-side graph); validated against a
    recursive-CTE transitive-closure oracle and a union-find property
    test over random graphs (tests/test_llm_ops.py)."""
    dup = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = cc_components(dup)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("n_members"))
    return (
        labels.join(F.broadcast(sizes), "comp")
        .select("doc_id", F.col("comp").alias("component_id"), "n_members")
        .orderBy("doc_id")
    )


def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the near-dup funnel: materialize the CANONICAL corpus
    — every document labeled with its near-dup component (singletons are
    their own component), whether it SURVIVES dedup, and which document
    it was deduped in favor of. Selection rule: within a component keep
    the highest ``quality_score`` (doc_id tie-break) — the same
    keep-best policy as the exact-dup ``dedup_keep_best``, lifted from
    hash-equality groups to TRANSITIVE near-dup groups. This is the
    query a training pipeline actually runs to emit its deduped corpus;
    ``dedup_cc_clusters`` (components only) and ``dedup_keep_best``
    (exact dups only) are its two halves.

    Scale: near-dup pairs from the inverted index (no O(n²)), O(log n)
    star-contraction components, one quality join, and per-COMPONENT
    windows (component-sized partitions — near-dup clusters, never the
    corpus). Ordering determinism: both engines compute bit-identical
    quality scores (the ``corpus_budget_pack`` ordering identity), and
    doc_id totalizes every tie. Oracle: recursive-CTE transitive
    closure + the shared score SQL — a genuinely different closure
    algorithm that must agree row-for-row."""
    from .text import text_quality

    dup = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = cc_components(dup)
    tq = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    wc = tq.join(labels, "doc_id", "left").select(
        "doc_id",
        "quality_score",
        F.coalesce("comp", F.col("doc_id")).alias("component_id"),
    )
    w = W.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = (
        wc.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count("*").over(W.partitionBy("component_id")),
        )
        .withColumn("kept_doc_id", F.first("doc_id").over(wfull))
    )
    return ranked.select(
        "doc_id",
        F.col("component_id").cast("long").alias("component_id"),
        F.col("n_members").cast("long").alias("n_members"),
        (F.col("rn") == 1).alias("keep"),
        F.col("kept_doc_id").cast("long").alias("kept_doc_id"),
    ).orderBy("doc_id")


ORACLE_CC = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
dup AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
         FROM reach GROUP BY src)
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS n_members
FROM comp
ORDER BY doc_id
"""


def _oracle_canonical() -> str:
    # late import: text.py defines the score SQL; no import cycle
    # (text.py never imports dedup)
    from .text import _SCORE_SQL

    # The closure CTE block is everything before ORACLE_CC's final
    # SELECT. Assert the marker exists: if that SELECT is ever reworded,
    # split()[0] would silently return the whole string and this
    # generated oracle would become malformed SQL only caught at sweep
    # time (ADVICE r6).
    marker = "SELECT doc_id, component_id,"
    assert marker in ORACLE_CC, "ORACLE_CC final SELECT reworded"
    closure = ORACLE_CC.split(marker)[0].rstrip()
    return f"""{closure},
tq AS ({_SCORE_SQL}),
wc AS (
  SELECT t.doc_id, t.quality_score,
         COALESCE(c.component_id, t.doc_id) AS component_id
  FROM tq t LEFT JOIN comp c ON t.doc_id = c.doc_id),
r AS (
  SELECT doc_id, component_id,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY quality_score DESC, doc_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY component_id) AS n_members,
         FIRST_VALUE(doc_id) OVER (PARTITION BY component_id
                                   ORDER BY quality_score DESC, doc_id)
           AS kept_doc_id
  FROM wc)
SELECT doc_id,
       CAST(component_id AS BIGINT) AS component_id,
       CAST(n_members AS BIGINT) AS n_members,
       rn = 1 AS keep,
       CAST(kept_doc_id AS BIGINT) AS kept_doc_id
FROM r ORDER BY doc_id
"""


CROSS_SRC_PREFIX = 40


def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    distinct texts appear verbatim in BOTH — the provenance report that
    tells a curation pipeline which domains mirror each other (and
    therefore which source's copy to keep in dedup_keep_best). Matching
    is on the opening-prefix fingerprint (md5 of the first
    CROSS_SRC_PREFIX chars — "same lead paragraph", the boilerplate-
    header signal; full-text md5 finds nothing at small fixture scales
    so the gate would be vacuous). Fingerprint → distinct (hash, source)
    → per-hash sorted source list → in-bucket pair expansion (the
    inverted-index idiom: one groupBy, no self-join, bucket size bounded
    by the source count)."""
    docs = _docs(spark, sf_dir)
    hs = docs.select(
        F.md5(F.substring("text", 1, CROSS_SRC_PREFIX)).alias("h"), "source"
    ).distinct()
    per_hash = (
        hs.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
    )
    return (
        bucket_pairs(per_hash, ids="srcs", a="source_a", b="source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_texts"))
        .orderBy("source_a", "source_b")
    )


ORACLE_CROSS_SOURCE = """
WITH hs AS (SELECT DISTINCT md5(substr(text, 1, {p})) AS h, source
            FROM documents)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS shared_texts
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
""".format(p=CROSS_SRC_PREFIX)


CONTAIN_TAU = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT max(|A∩B|/|A|, |A∩B|/|B|)
    = inter/min(|A|,|B|). Jaccard misses subset duplicates — a short doc
    quoted whole inside a long one scores J = |A|/|B| ≈ 0 but containment
    1.0 (the quoted-email / boilerplate-wrapper case a dedup pass must
    catch). Same inverted-index machinery as dedup_ngram_jaccard
    (:func:`_pair_sims`: one postings groupBy, MAX_DF stop-shingle prune,
    in-bucket pair expansion — no O(n²)); only the final score differs,
    and jaccard rides along for contrast."""
    docs = _docs_par(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(word_ngrams("text", NGRAM)).alias("sh")
    )
    return (
        _pair_sims(sh)
        .withColumn(
            "containment",
            F.col("inter") * 1.0 / F.least(F.col("na"), F.col("nb")),
        )
        .filter(F.col("containment") >= CONTAIN_TAU)
        .withColumn(
            "jaccard",
            F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .select("doc_a", "doc_b", "containment", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


ORACLE_CONTAINMENT = f"""
WITH {_NGRAM_PAIR_CTES}
SELECT doc_a, doc_b,
       inter * 1.0 / least(x.n, y.n) AS containment,
       inter * 1.0 / (x.n + y.n - inter) AS jaccard
FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE inter * 1.0 / least(x.n, y.n) >= {CONTAIN_TAU}
ORDER BY doc_a, doc_b
"""


PR_DAMPING = 0.85
PR_ITERS = 5


def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup pair graph — the iterative-algorithm
    family member (power iteration, fixed PR_ITERS rounds). On a dedup
    graph the rank identifies the "hub" documents that near-duplicate
    against many others (template pages, mirrored boilerplate), which
    curation pipelines down-weight or drop first.

    Plan: the loop is unrolled on the driver but every iteration is pure
    dataflow — edges ⋈ state on src, groupBy dst, no collect. Each round
    materializes via ``localCheckpoint`` (the cc_components idiom) so
    lineage stays O(1) instead of growing a 5-deep re-evaluation chain,
    and the heavy edge recompute (the whole inverted-index pipeline) runs
    once, not once per round. The undirected graph has no dangling
    nodes, so no dangling-mass redistribution term is needed. Scales as
    PR_ITERS keyed shuffles of the (src, dst) edge list.

    Oracle: the same power iteration unrolled as PR_ITERS chained CTEs —
    identical IEEE double ops in both engines, final ROUND(6)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n = deg.count()
    state = deg.select(
        F.col("src").alias("doc_id"), F.lit(1.0 / n).alias("rank")
    )
    for _ in range(PR_ITERS):
        state = (
            edges.join(deg, "src")
            .join(state, F.col("src") == F.col("doc_id"))
            .select("dst", (F.col("rank") / F.col("deg")).alias("w"))
            .groupBy("dst")
            .agg(
                (
                    F.lit((1 - PR_DAMPING) / n)
                    + F.lit(PR_DAMPING) * F.sum("w")
                ).alias("rank")
            )
            .select(F.col("dst").alias("doc_id"), "rank")
            .localCheckpoint(eager=True)
        )
    return state.select(
        "doc_id", F.round("rank", 6).alias("pagerank")
    ).orderBy("doc_id")


_PR_ITER_CTES = ",\n".join(
    f"""pr{i} AS (
  SELECT e.dst AS doc_id,
         (1 - {PR_DAMPING}) / MIN(nn.n) +
         {PR_DAMPING} * SUM(p.rank / d.deg) AS rank
  FROM edges e JOIN deg d ON e.src = d.src
       JOIN pr{i - 1} p ON e.src = p.doc_id, nn
  GROUP BY e.dst)"""
    for i in range(1, PR_ITERS + 1)
)

ORACLE_PAGERANK = f"""
WITH {_NGRAM_PAIR_CTES},
jp AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM deg),
pr0 AS (SELECT src AS doc_id, 1.0 / nn.n AS rank FROM deg, nn),
{_PR_ITER_CTES}
SELECT doc_id, ROUND(rank, 6) AS pagerank FROM pr{PR_ITERS}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# k-hop BFS reachability over the near-dup graph
# --------------------------------------------------------------------------

KHOP_MOD = 7  # seed set: graph nodes with doc_id % KHOP_MOD == 0
KHOP_HOPS = 3


def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the near-dup graph: from a deterministic
    seed set (graph nodes with doc_id ≡ 0 mod {KHOP_MOD}), the minimum
    hop distance of every document reachable within {KHOP_HOPS} hops —
    the "blast radius" query a curator runs after flagging a batch of
    bad documents (how far does contamination propagate through
    near-duplication chains?), and the third iterative-graph member
    next to connected components (uncapped closure) and PageRank
    (weighted influence).

    Plan: {KHOP_HOPS} unrolled rounds of frontier-join + min-dist
    re-aggregation, each materialized via ``localCheckpoint`` (the
    cc/pagerank idiom — O(1) lineage, the edge pipeline runs once).
    Pure integer distances; min-union semantics make the candidate
    generation order irrelevant, so the unrolled DuckDB CTE chain is
    value-identical. Scales as {KHOP_HOPS} keyed shuffles of the edge
    list — frontier joins are the textbook distributed-BFS dataflow."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    state = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .filter(F.expr(f"doc_id % {KHOP_MOD} = 0"))
        .select("doc_id", F.lit(0).alias("dist"))
    )
    for _ in range(KHOP_HOPS):
        frontier = edges.join(
            state.select(F.col("doc_id").alias("src"), "dist"), "src"
        ).select(F.col("dst").alias("doc_id"), (F.col("dist") + 1).alias("dist"))
        state = (
            state.union(frontier)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return state.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dist").cast("int").alias("dist"),
    ).orderBy("doc_id")


def _khop_iter_ctes() -> str:
    parts = []
    for i in range(1, KHOP_HOPS + 1):
        parts.append(
            f"u{i} AS (SELECT doc_id, dist FROM d{i - 1} "
            f"UNION ALL "
            f"SELECT e.dst AS doc_id, d.dist + 1 AS dist "
            f"FROM edges e JOIN d{i - 1} d ON e.src = d.doc_id),\n"
            f"d{i} AS (SELECT doc_id, MIN(dist) AS dist FROM u{i} "
            f"GROUP BY 1)"
        )
    return ",\n".join(parts)


ORACLE_KHOP_REACH = f"""
WITH {_NGRAM_PAIR_CTES},
jp AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
d0 AS (SELECT DISTINCT src AS doc_id, 0 AS dist FROM edges
       WHERE src % {KHOP_MOD} = 0),
{_khop_iter_ctes()}
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(dist AS INT) AS dist
FROM d{KHOP_HOPS} ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# MinHash calibration (sketch estimate vs exact Jaccard)
# --------------------------------------------------------------------------

def sketch_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report for the MinHash sketch: over every LSH banding
    candidate pair, the signature-agreement estimate (matching positions
    / {MINHASH_PERMS}) against the exact Jaccard — mean absolute error,
    bias, and worst error. This is the measurement that justifies
    trusting the sketch at corpus scale, computed on the REAL production
    signatures (shared `_minhash_stages`), not a statistical twin.
    E[estimate] = J by the MinHash theorem; MAE ~ √(J(1−J)/k) ≈ 0.05 at
    k=100 — a drifting MAE means broken permutations. The agreement
    count is a higher-order zip_with fold per candidate pair (bounded
    stream), never per corpus row."""
    docs, sig, cand = _minhash_stages(spark, sf_dir)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb"))
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    per_pair = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            (
                F.expr(
                    "aggregate(zip_with(siga, sigb, (a, b) -> "
                    "if(a = b, 1, 0)), 0, (acc, v) -> acc + v)"
                ).cast("double")
                / MINHASH_PERMS
            ).alias("est"),
            (
                F.size(F.array_intersect("sha", "shb"))
                * 1.0
                / F.size(F.array_union("sha", "shb"))
            ).alias("exact"),
        )
    )
    return per_pair.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("est") - F.col("exact"))), 4).alias("mae"),
        F.round(F.avg(F.col("est") - F.col("exact")), 4).alias("bias"),
        F.round(F.max(F.abs(F.col("est") - F.col("exact"))), 4).alias("max_err"),
    )


_ORACLE_MINHASH_CALIB_TMPL = f"""
WITH shl AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id, shingles,
         {{SIG}} AS sig
  FROM shl
),
bands AS (
  SELECT doc_id, b,
         b || ':' || array_to_string(
           sig[b * {MINHASH_R} + 1 : b * {MINHASH_R} + {MINHASH_R}], ',')
           AS band_key
  FROM sig, LATERAL unnest(range(0, {MINHASH_BANDS})) AS u(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
per_pair AS (
  SELECT
    CAST(list_sum(list_transform(generate_series(1, {MINHASH_PERMS}),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
         AS DOUBLE) / {MINHASH_PERMS} AS est,
    len(list_intersect(x.shingles, y.shingles)) * 1.0
      / len(list_distinct(list_concat(x.shingles, y.shingles))) AS exact
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
  JOIN shl x ON cand.doc_a = x.doc_id
  JOIN shl y ON cand.doc_b = y.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(ABS(est - exact)), 4) AS mae,
       ROUND(AVG(est - exact), 4) AS bias,
       ROUND(MAX(ABS(est - exact)), 4) AS max_err
FROM per_pair
"""


def _render_calib_oracle() -> str:
    from ..functions.hashing import sql_minhash_signature_duck

    return _ORACLE_MINHASH_CALIB_TMPL.replace(
        "{SIG}", sql_minhash_signature_duck("shingles", MINHASH_PERMS)
    )


ORACLE_MINHASH_CALIB = _render_calib_oracle()


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (semantic dedup — SemDeDup-style)
# --------------------------------------------------------------------------

EMB_DUP_TAU = 0.4  # fixture embeddings are random; max pairwise cosine ≈ 0.5


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-duplicate groups — the SemDeDup
    recipe a pretraining pipeline runs AFTER lexical dedup: vectors whose
    cosine ≥ EMB_DUP_TAU are duplicates even when their surface text
    differs (paraphrases, translations, templated rewrites).

    Pipeline: exact cosine pairs from the block-grid all-pairs scorer
    (similarity.sim_dup_pairs — each vector pair meets in exactly one grid
    cell, scored with one BLAS matmul per cell), connected components via
    alternating star contraction (:func:`cc_components`, O(log n) rounds),
    then every corpus vector labeled with its component and a keep flag on
    the minimum-id representative — the row a dedup pass retains.

    Scale posture (100 TB): exact all-pairs is the verification tier; at
    corpus scale the pair stream comes from ``sim_ann_lsh`` buckets
    (candidates only, recall-gated in RECALL_r05.json) followed by the
    same exact-cosine verify and the SAME component/representative tail —
    the contraction and labeling stages key on vec_id and never see raw
    vectors, so only the bounded pair stream shuffles."""
    from .similarity import sim_dup_pairs

    # Pruning sim_r4 off the cogroup output is safe: sim_dup_pairs pins
    # its output references (similarity._pin_columns) so Catalyst's
    # ColumnPruning cannot reach into the cogroup children — no
    # materializing checkpoint needed here.
    pairs = sim_dup_pairs(spark, sf_dir).select(
        F.col("vec_id_a").alias("doc_a"), F.col("vec_id_b").alias("doc_b")
    )
    labels = cc_components(pairs)
    ids = catalog.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    lab = ids.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("comp", F.col("doc_id")).alias("component_id")
    )
    sizes = lab.groupBy("component_id").agg(F.count("*").alias("n_members"))
    return (
        lab.join(F.broadcast(sizes), "component_id")
        .select(
            "doc_id",
            "component_id",
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("doc_id") == F.col("component_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


ORACLE_EMB_COSINE = f"""
WITH RECURSIVE dup AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= {EMB_DUP_TAU}
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
         FROM reach GROUP BY src),
lab AS (
  SELECT e.vec_id AS doc_id,
         COALESCE(c.component_id, e.vec_id) AS component_id
  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.doc_id)
SELECT doc_id, component_id,
       CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS n_members,
       doc_id = component_id AS keep
FROM lab
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Triangle count + clustering coefficient on the near-dup graph
# --------------------------------------------------------------------------

def graph_triangles_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count, degree, and local clustering coefficient
    on the n-gram-Jaccard near-dup graph — the structural audit that
    separates genuine duplicate CLIQUES (template families, mirrored
    sites: high clustering) from chain-shaped false-positive paths
    (low clustering), which a pipeline treats differently when picking
    representatives.

    Triangles are enumerated once each via the ordered-triple join: edges
    are canonical (doc_a < doc_b), so (a<b<c) triangles come from
    e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c) with no multiplicity correction.
    Scale posture: the join keys on node ids of the SPARSE dup-pair graph
    (orders of magnitude smaller than the corpus); the heavy-hitter risk
    is a hub node's neighbor list, bounded upstream by MAX_DF stop-shingle
    pruning. Clustering = 2·tri / (deg·(deg−1)), 0 for degree-1 nodes."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = edges.localCheckpoint(eager=True)  # reused 3× in the triple join
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    degree = sym.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("degree")
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tri_nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    ).groupBy("doc_id").agg(F.count("*").alias("n_triangles"))
    return (
        degree.join(tri_nodes, "doc_id", "left")
        .select(
            "doc_id",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            # 2t/(d(d-1)) is a pure integer ratio -> exact rational
            # half-up (TIES.md B')
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    rat_round6_spark(
                        "2 * coalesce(n_triangles, 0)",
                        "degree * (degree - 1)",
                    )
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
        .orderBy("doc_id")
    )


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the near-dup graph — the
    classic structural-similarity score: non-adjacent node pairs ranked
    by shared-neighbor count (with the neighborhood-Jaccard as the
    normalized score). On a dup graph these predicted links are the
    pairs an LSH/threshold pass MISSED but the graph structure implies
    — the recall-recovery audit a curation pipeline runs on its own
    dedup output. All integers; the Jaccard is the exact-rational
    half-up of cn / (deg_a + deg_c − cn).

    Scale: wedge enumeration joins the SPARSE symmetric edge list on
    the center node (the triangle machinery's key), so cost is
    Σ deg(b)² over nodes — bounded upstream by MAX_DF pruning; the
    anti-join removes existing edges."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = edges.localCheckpoint(eager=True)  # reused by wedges + anti
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    degree = sym.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").cast("long").alias("degree")
    )
    w1 = sym.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    w2 = sym.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    wedges = (
        w1.join(w2, "b")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    predicted = wedges.join(
        edges.withColumnRenamed("doc_a", "a").withColumnRenamed("doc_b", "c"),
        ["a", "c"],
        "left_anti",
    )
    return (
        predicted.join(
            degree.withColumnRenamed("doc_id", "a")
            .withColumnRenamed("degree", "deg_a"),
            "a",
        )
        .join(
            degree.withColumnRenamed("doc_id", "c")
            .withColumnRenamed("degree", "deg_c"),
            "c",
        )
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "cn",
            "deg_a",
            "deg_c",
            F.expr(
                rat_round6_spark("cn", "deg_a + deg_c - cn")
            ).alias("nbr_jaccard_r6"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_COMMON_NEIGHBORS = f"""
WITH {_NGRAM_PAIR_CTES},
dup AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
),
sym AS (SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup),
deg AS (SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym GROUP BY 1),
wedge AS (
  SELECT w1.doc_a AS a, w2.doc_b AS c, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym w1 JOIN sym w2 ON w1.doc_b = w2.doc_a
  WHERE w1.doc_a < w2.doc_b
  GROUP BY 1, 2),
pred AS (
  SELECT a, c, cn FROM wedge
  WHERE NOT EXISTS (SELECT 1 FROM dup
                    WHERE doc_a = wedge.a AND doc_b = wedge.c))
SELECT a AS doc_a, c AS doc_b, cn,
       da.degree AS deg_a, dc.degree AS deg_c,
       {rat_round6_duck("cn", "da.degree + dc.degree - cn")}
         AS nbr_jaccard_r6
FROM pred
JOIN deg da ON da.doc_id = a
JOIN deg dc ON dc.doc_id = c
ORDER BY doc_a, doc_b
"""


ORACLE_TRIANGLES = f"""
WITH {_NGRAM_PAIR_CTES},
dup AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
),
sym AS (SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup),
deg AS (SELECT doc_a AS doc_id, COUNT(*) AS degree FROM sym GROUP BY 1),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM dup e1
  JOIN dup e2 ON e1.doc_b = e2.doc_a
  JOIN dup e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
tn AS (
  SELECT doc_id, COUNT(*) AS n_triangles
  FROM (SELECT a AS doc_id FROM tri UNION ALL
        SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2 THEN
         CAST(((2 * COALESCE(t.n_triangles, 0)) * 2000000 + (d.degree * (d.degree - 1))) // (2 * (d.degree * (d.degree - 1))) AS DOUBLE) / 1000000.0
       ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tn t USING (doc_id)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Threshold sweep: dedup yield curve over the Jaccard grid
# --------------------------------------------------------------------------

def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve: for every Jaccard threshold t in
    0.1 … 1.0, how many candidate pairs and how many distinct
    documents would the near-dup pass flag? This is the tuning report
    a pipeline owner reads BEFORE picking tau — one run of the
    candidate machinery answers all ten thresholds, instead of ten
    reruns of ``dedup_ngram_jaccard``.

    Shares :func:`_pair_sims` (identical shingling, MAX_DF prune,
    inverted-index pair expansion) so the curve describes the REAL
    production candidate set. Threshold tests are exact integer
    cross-multiplications (10*inter >= t*union — no float compare can
    drift an edge pair across engines). The 10-row grid is a broadcast
    crossJoin against the bounded candidate set; zero-hit thresholds
    are preserved by the left join against the grid."""
    docs = _docs_par(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(word_ngrams("text", NGRAM)).alias("sh")
    )
    p = _pair_sims(sh)
    grid = spark.range(1, 11).select(F.col("id").cast("int").alias("tt"))
    hits = (
        p.crossJoin(F.broadcast(grid))
        .filter(
            F.col("inter") * 10
            >= F.col("tt") * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select(
            "tt", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("tt")
        .agg(
            (F.count("*") / 2).cast("long").alias("pairs_ge"),
            F.countDistinct("d").alias("docs_ge"),
        )
    )
    return (
        grid.join(hits, "tt", "left")
        .select(
            F.col("tt").cast("long").alias("threshold_tenths"),
            F.coalesce("pairs_ge", F.lit(0)).cast("long").alias("pairs_ge"),
            F.coalesce("docs_ge", F.lit(0)).cast("long").alias("docs_ge"),
        )
        .orderBy("threshold_tenths")
    )


ORACLE_THRESHOLD_SWEEP = f"""
WITH {_NGRAM_PAIR_CTES},
sim AS (
  SELECT doc_a, doc_b, inter, x.n AS na, y.n AS nb
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id),
grid AS (SELECT CAST(g AS INT) AS tt FROM generate_series(1, 10) t(g)),
hit AS (
  SELECT g.tt, s.doc_a, s.doc_b
  FROM grid g JOIN sim s
    ON s.inter * 10 >= g.tt * (s.na + s.nb - s.inter)),
agg AS (
  SELECT tt, CAST(COUNT(*) // 2 AS BIGINT) AS pairs_ge,
         CAST(COUNT(DISTINCT d) AS BIGINT) AS docs_ge
  FROM (SELECT tt, doc_a AS d FROM hit
        UNION ALL SELECT tt, doc_b FROM hit)
  GROUP BY tt)
SELECT CAST(g.tt AS BIGINT) AS threshold_tenths,
       COALESCE(a.pairs_ge, 0) AS pairs_ge,
       COALESCE(a.docs_ge, 0) AS docs_ge
FROM grid g LEFT JOIN agg a USING (tt)
ORDER BY threshold_tenths
"""


# --------------------------------------------------------------------------
# Degree assortativity of the near-dup graph
# --------------------------------------------------------------------------

def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the n-gram-Jaccard near-dup graph: do
    high-degree duplicate hubs link to other hubs (template farms,
    r > 0) or to leaves (hub-and-spoke mirror sites, r < 0)? The
    structural summary next to ``graph_triangles_neardup``'s local
    clustering.

    On the SYMMETRIC double-counted edge list both endpoint degree
    marginals are identical (sum_x = sum_y, sum_x2 = sum_y2), so
    Pearson's r collapses to the sqrt-free exact rational
    (m*sum_xy - sum_x^2) / (m*sum_x2 - sum_x^2) — every term an
    integer, the one division the signed exact-rational half-up.
    Degenerate regular graphs (zero degree variance, e.g. isolated
    pairs only) emit NULL on both engines instead of dividing by zero
    (ANSI-safe CASE guard).

    Scale: edges come from the bounded candidate machinery (MAX_DF
    prune caps any hub's degree); two keyed joins put endpoint degrees
    on edges; one scalar aggregate. Integer envelope: sum_xy <=
    m*deg_max^2 with deg_max <= ~MAX_DF*bands — far inside BIGINT for
    any corpus the candidate set itself survives."""
    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = sym.groupBy(F.col("doc_a").alias("node")).agg(
        F.count("*").alias("deg")
    )
    e = (
        sym.join(
            deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("dx")),
            "doc_a",
        )
        .join(
            deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("dy")),
            "doc_b",
        )
    )
    num = "m * sxy - sx * sx"
    den = "m * sxx - sx * sx"
    return (
        e.agg(
            F.count("*").cast("long").alias("m"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        )
        .select(
            (F.col("m") / 2).cast("long").alias("n_edges"),
            F.col("sxy").alias("sum_xy"),
            F.col("sx").alias("sum_x"),
            F.col("sxx").alias("sum_x2"),
            F.when(
                F.expr(den) != 0,
                F.expr(rat_round6_signed_spark(num, den)),
            ).alias("assortativity_r6"),
        )
    )


ORACLE_ASSORTATIVITY = f"""
WITH {_NGRAM_PAIR_CTES},
dup AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
),
sym AS (SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup),
deg AS (SELECT doc_a AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
e AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM sym JOIN deg da ON sym.doc_a = da.node
           JOIN deg db ON sym.doc_b = db.node),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx
  FROM e)
SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       sxy AS sum_xy, sx AS sum_x, sxx AS sum_x2,
       CASE WHEN m * sxx - sx * sx <> 0 THEN
         {rat_round6_signed_duck("m * sxy - sx * sx", "m * sxx - sx * sx")}
       ELSE NULL END AS assortativity_r6
FROM s
"""


# --------------------------------------------------------------------------
# Near-dup graph structure ops (r10): peeling, communities, global shape
# --------------------------------------------------------------------------

K_CORE = 2  # peel toward the 2-core (drop chain/pendant artifacts)
PEEL_ROUNDS = 4
LPA_ROUNDS = 3

# Shared oracle prefix: thresholded dup edges + symmetric adjacency.
# MATERIALIZED: the multi-round graph oracles below reference sym/dup
# once per unrolled round — without it DuckDB inlines (re-runs) the
# whole shingle self-join per reference (43s → <1s at sf0.01).
_GRAPH_SYM_CTES = f"""{_NGRAM_PAIR_CTES},
dup AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
),
sym AS MATERIALIZED (
  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup)"""


def _neardup_graph(spark: SparkSession, sf_dir: str):
    """(canonical edges, symmetric adjacency) of the n-gram-Jaccard
    near-dup graph, edges localCheckpointed (BOUNDED: the thresholded
    dup-pair set, orders of magnitude below the corpus) so multi-round
    graph algorithms don't re-run the shingle join per round."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # The dup-pair frame inherits the upstream shuffle partitioning
    # (200 under a hostile session) — far too many for the BOUNDED edge
    # set the multi-round algorithms iterate over (each unrolled round
    # re-shuffles it); bring it down to cluster parallelism first.
    edges = edges.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    return edges, sym


def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency profile in log2 bands — the telemetry
    the MAX_DF stop-shingle knob is tuned from: how many shingle TYPES
    sit in each df band, how many postings (doc, shingle) they carry,
    and how many types the current MAX_DF={MAX_DF} cut prunes. A fat
    high-df tail means boilerplate shingles are flooding the inverted
    index (prune harder); an empty one means the cut costs recall for
    nothing. One distinct + two hash aggs — band-bounded output."""
    docs = _docs_par(spark, sf_dir)
    gs = docs.select(
        "doc_id", F.explode(word_ngrams("text", NGRAM)).alias("sh")
    ).distinct()
    df = gs.groupBy("sh").agg(F.count("*").alias("df"))
    tot = df.agg(F.sum("df").cast("long").alias("n_postings_total"))
    return (
        df.groupBy(F.expr("cast(length(bin(df)) as int)").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum(F.when(F.col("df") > MAX_DF, 1).otherwise(0))
            .cast("long")
            .alias("n_pruned"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_shingles",
            "n_postings",
            "n_pruned",
            F.expr(
                rat_round6_spark("n_postings", "n_postings_total")
            ).alias("posting_share_r6"),
        )
        .orderBy("band")
    )


ORACLE_SHINGLE_DF_PROFILE = f"""
WITH {_NGRAM_PAIR_CTES},
df AS (SELECT sh, COUNT(*) AS df FROM gs GROUP BY 1),
tot AS (SELECT CAST(SUM(df) AS BIGINT) AS n_postings_total FROM df),
h AS (
  SELECT CAST(LENGTH(bin(df)) AS INT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(df) AS BIGINT) AS n_postings,
         CAST(SUM(CASE WHEN df > {MAX_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pruned
  FROM df GROUP BY 1)
SELECT band, n_shingles, n_postings, n_pruned,
       {rat_round6_duck("n_postings", "n_postings_total")}
         AS posting_share_r6
FROM h, tot ORDER BY band
"""


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component-size distribution in log2 bands (singletons
    included as size-1 components) — the dedup-run telemetry that says
    whether the threshold produced a few mega-templates (fat tail: one
    canonical doc replaces thousands) or mostly pairs. Components via
    the same O(log n) star contraction as ``dedup_cc_clusters``; the
    histogram is component-bounded."""
    docs = catalog.load(spark, sf_dir, "documents").select("doc_id")
    dup = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = cc_components(dup)
    full = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).alias("comp"),
    )
    sizes = full.groupBy("comp").agg(F.count("*").alias("sz"))
    tot = docs.agg(F.count("*").cast("long").alias("n_docs_total"))
    return (
        sizes.groupBy(F.expr("cast(length(bin(sz)) as int)").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.min("sz").cast("long").alias("min_size"),
            F.max("sz").cast("long").alias("max_size"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_clusters",
            "n_docs",
            "min_size",
            "max_size",
            F.expr(rat_round6_spark("n_docs", "n_docs_total")).alias(
                "doc_share_r6"
            ),
        )
        .orderBy("band")
    )


def _oracle_cluster_size_histogram() -> str:
    marker = "SELECT doc_id, component_id,"
    assert marker in ORACLE_CC, "ORACLE_CC final SELECT reworded"
    closure = ORACLE_CC.split(marker)[0].rstrip()
    return f"""{closure},
allc AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS comp
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN comp c ON c.doc_id = d.doc_id),
sizes AS (SELECT comp, COUNT(*) AS sz FROM allc GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total FROM documents),
h AS (
  SELECT CAST(LENGTH(bin(sz)) AS INT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(sz) AS BIGINT) AS n_docs,
         CAST(MIN(sz) AS BIGINT) AS min_size,
         CAST(MAX(sz) AS BIGINT) AS max_size
  FROM sizes GROUP BY 1)
SELECT band, n_clusters, n_docs, min_size, max_size,
       {rat_round6_duck("n_docs", "n_docs_total")} AS doc_share_r6
FROM h, tot ORDER BY band"""


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling on the near-dup graph: {PEEL_ROUNDS}
    synchronous rounds of "remove every node whose CURRENT degree <
    {K_CORE}" — the decomposition that separates dense duplicate cores
    (template families worth one canonical representative) from chain/
    pendant near-dup artifacts (threshold noise). Emits, per original
    node, the round it was peeled (0 = survived all rounds) and its
    degree in the surviving core.

    A node whose neighbors are all peeled in one round becomes isolated
    (degree 0 — absent from the next round's degree table entirely), so
    each round removes every still-alive node NOT among the deg ≥ K
    survivors: both the low-degree nodes and the isolated-by-peeling
    ones (ADVICE r10 — a 5-chain's middle node is not in the 2-core and
    must peel in round 2, not survive with core_degree 0).

    Scale: each round is one degree agg + two anti-joins on the BOUNDED
    dup-edge set (localCheckpointed once); rounds are a fixed unrolled
    constant, the kmeans-loop convention, so lineage stays bounded."""
    _, sym = _neardup_graph(spark, sf_dir)
    all_nodes = sym.select(F.col("doc_a").alias("doc_id")).distinct()
    cur = sym
    alive = all_nodes.localCheckpoint(eager=True)
    removed = None
    for rnd in range(1, PEEL_ROUNDS + 1):
        deg = cur.groupBy(F.col("doc_a").alias("doc_id")).agg(
            F.count("*").alias("deg")
        )
        keep = deg.filter(F.col("deg") >= K_CORE).select("doc_id")
        # each round's survivors/victims feed BOTH the removed-union and
        # the next round's edge filter — checkpoint the BOUNDED frames
        # (≤ graph nodes / dup edges) or the branched lineage re-executes
        # the whole prefix per branch, doubling work every round
        rem = alive.join(keep, "doc_id", "left_anti").select(
            "doc_id", F.lit(rnd).alias("removed_round")
        ).localCheckpoint(eager=True)
        removed = rem if removed is None else removed.union(rem)
        gone = rem.select("doc_id")
        alive = alive.join(gone, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        cur = cur.join(
            gone.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_anti"
        ).join(
            gone.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_anti"
        ).localCheckpoint(eager=True)
    core_deg = cur.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").cast("long").alias("core_degree")
    )
    return (
        all_nodes.join(removed, "doc_id", "left")
        .join(core_deg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("removed_round", F.lit(0))
            .cast("int")
            .alias("removed_round"),
            F.coalesce("core_degree", F.lit(0))
            .cast("long")
            .alias("core_degree"),
        )
        .orderBy("doc_id")
    )


def _kcore_oracle_ctes() -> str:
    # a{r} = nodes still alive entering round r; r{r} = peeled in round r
    # (alive nodes NOT among the deg >= K survivors — includes nodes
    # isolated by earlier peeling, which vanish from d{r} entirely)
    parts = [
        "g1 AS MATERIALIZED (SELECT doc_a, doc_b FROM sym)",
        "a1 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id FROM sym)",
    ]
    for r in range(1, PEEL_ROUNDS + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT doc_a AS doc_id, COUNT(*) AS deg FROM g{r} GROUP BY 1),
r{r} AS MATERIALIZED (
  SELECT doc_id FROM a{r}
  WHERE doc_id NOT IN (SELECT doc_id FROM d{r} WHERE deg >= {K_CORE})),
a{r + 1} AS MATERIALIZED (
  SELECT doc_id FROM a{r}
  WHERE doc_id NOT IN (SELECT doc_id FROM r{r})),
g{r + 1} AS MATERIALIZED (
  SELECT * FROM g{r}
  WHERE doc_a NOT IN (SELECT doc_id FROM r{r})
    AND doc_b NOT IN (SELECT doc_id FROM r{r}))"""
        )
    return ",\n".join(parts)


ORACLE_KCORE_PEEL = f"""
WITH {_GRAPH_SYM_CTES},
{_kcore_oracle_ctes()},
core AS (SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
         FROM g{PEEL_ROUNDS + 1} GROUP BY 1)
SELECT d1.doc_id,
       CAST(CASE {" ".join(
           f"WHEN d1.doc_id IN (SELECT doc_id FROM r{r}) THEN {r}"
           for r in range(1, PEEL_ROUNDS + 1))}
            ELSE 0 END AS INT) AS removed_round,
       COALESCE(core.core_degree, 0) AS core_degree
FROM d1 LEFT JOIN core USING (doc_id)
ORDER BY doc_id
"""


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation ({LPA_ROUNDS} rounds) on the
    near-dup graph — the classic near-linear community detection
    (Raghavan et al.): every node starts as its own label; each round
    it adopts the most frequent label among its neighbors, ties to the
    SMALLEST label (fully deterministic — no RNG, no async order
    dependence). Communities after a fixed round budget are the
    template families a curation pipeline collapses to one
    representative each.

    Scale: per round, one join of the bounded adjacency against the
    label frame + one top-1-per-node window over per-node vote groups
    (partition = node, never global); rounds are a fixed unrolled
    constant."""
    _, sym = _neardup_graph(spark, sf_dir)
    lbl = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("lbl"))
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            sym.join(
                lbl.select(
                    F.col("doc_id").alias("doc_b"), F.col("lbl")
                ),
                "doc_b",
            )
            .groupBy(F.col("doc_a"), F.col("lbl"))
            .agg(F.count("*").alias("n"))
        )
        w = W.partitionBy("doc_a").orderBy(F.desc("n"), F.asc("lbl"))
        lbl = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("doc_a").alias("doc_id"), "lbl")
        )
    return lbl.select(
        "doc_id", F.col("lbl").cast("long").alias("community")
    ).orderBy("doc_id")


def _lpa_oracle_ctes() -> str:
    parts = ["l0 AS (SELECT DISTINCT doc_a AS doc_id, doc_a AS lbl FROM sym)"]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""v{r} AS (
  SELECT s.doc_a, l.lbl, COUNT(*) AS n
  FROM sym s JOIN l{r - 1} l ON l.doc_id = s.doc_b
  GROUP BY 1, 2),
l{r} AS (
  SELECT doc_a AS doc_id, lbl FROM (
    SELECT doc_a, lbl,
           ROW_NUMBER() OVER (PARTITION BY doc_a
                              ORDER BY n DESC, lbl) AS rn
    FROM v{r}) WHERE rn = 1)"""
        )
    return ",\n".join(parts)


ORACLE_LABEL_PROPAGATION = f"""
WITH {_GRAPH_SYM_CTES},
{_lpa_oracle_ctes()}
SELECT doc_id, CAST(lbl AS BIGINT) AS community
FROM l{LPA_ROUNDS} ORDER BY doc_id
"""


def graph_global_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global graph-shape summary of the near-dup graph: node/edge
    counts, wedge count (paths of length 2: Σ deg·(deg−1)/2), closed
    wedges (3 per triangle, ordered-triple join), and the global
    transitivity 3·triangles / wedges — the one number that says
    whether the dedup threshold produced clique-like template families
    (high) or chain-like threshold noise (low). All integer counts;
    deg·(deg−1) is always even so the wedge division is exact."""
    edges, sym = _neardup_graph(spark, sf_dir)
    deg = sym.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("deg")
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    stats = (
        deg.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.expr("deg * (deg - 1) div 2"))
            .cast("long")
            .alias("n_wedges"),
        )
        .crossJoin(edges.agg(F.count("*").cast("long").alias("n_edges")))
        .crossJoin(tri)
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        (F.lit(3) * F.col("n_tri")).cast("long").alias("n_closed"),
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.expr(
                rat_round6_spark("3 * n_tri", "greatest(n_wedges, 1)")
            )
        )
        .alias("transitivity_r6"),
    )


ORACLE_GLOBAL_TRANSITIVITY = f"""
WITH {_GRAPH_SYM_CTES},
deg AS (SELECT doc_a AS doc_id, COUNT(*) AS deg FROM sym GROUP BY 1),
tri AS (
  SELECT COUNT(*) AS t
  FROM dup e1 JOIN dup e2 ON e1.doc_b = e2.doc_a
       JOIN dup e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg),
ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM dup)
SELECT agg.n_nodes, ec.n_edges, agg.n_wedges,
       CAST(3 * tri.t AS BIGINT) AS n_closed,
       CASE WHEN agg.n_wedges = 0 THEN 0.0
            ELSE {rat_round6_duck("3 * tri.t", "greatest(agg.n_wedges, 1)")}
       END AS transitivity_r6
FROM agg, ec, tri
"""


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph in log2 bands
    (band = bit_length(degree) via the LENGTH(bin(x)) pattern — exact
    on both engines): per band, node count, degree min/max, and node
    share. The heavy-tail readout that tells a pipeline whether MAX_DF
    pruning left hub documents (one mega-template) or the graph is
    uniformly sparse."""
    _, sym = _neardup_graph(spark, sf_dir)
    deg = sym.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("deg")
    )
    total = deg.select(F.count("*").alias("n_total"))
    return (
        deg.groupBy(F.expr("cast(length(bin(deg)) as int)").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_degree"),
            F.max("deg").cast("long").alias("max_degree"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "band",
            "n_nodes",
            "min_degree",
            "max_degree",
            F.expr(rat_round6_spark("n_nodes", "n_total")).alias(
                "node_share_r6"
            ),
        )
        .orderBy("band")
    )


ORACLE_DEGREE_HISTOGRAM = f"""
WITH {_GRAPH_SYM_CTES},
deg AS (SELECT doc_a AS doc_id, COUNT(*) AS deg FROM sym GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM deg),
b AS (
  SELECT CAST(LENGTH(bin(deg)) AS INT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(MIN(deg) AS BIGINT) AS min_degree,
         CAST(MAX(deg) AS BIGINT) AS max_degree
  FROM deg GROUP BY 1)
SELECT band, n_nodes, min_degree, max_degree,
       {rat_round6_duck("n_nodes", "n_total")} AS node_share_r6
FROM b, tot ORDER BY band
"""


# --------------------------------------------------------------------------
# Paragraph-grain near-dup (block MinHash-LSH)
# --------------------------------------------------------------------------

PARA_W = 24  # tokens per paragraph block (non-overlapping)
PARA_PERMS = 16
PARA_BANDS = 4
PARA_R = 4
PARA_TAU = 0.6


def dedup_paragraph_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain near-dup join (VERDICT r10 #2e — the granularity
    bridge between doc-level MinHash and span-level ExactSubstr): docs
    split into non-overlapping {PARA_W}-token blocks (the fixture
    corpus has no paragraph markers, so the block grid stands in for
    paragraph boundaries), each block shingled into distinct word
    3-grams, MinHash-signed ({PARA_PERMS} Kirsch-Mitzenmacher
    permutations), banded {PARA_BANDS}×{PARA_R}, and candidate CROSS-DOC
    block pairs exact-Jaccard-verified at tau = {PARA_TAU}. Finds the
    copied paragraph inside two otherwise-different documents — doc
    grain dilutes it below tau, span grain only reports it within the
    fixed window width.

    Scale: identical posture to dedup_minhash_lsh, one grain down —
    banded candidate join (no all-pairs), verification only on
    candidates; block count ≈ tokens/{PARA_W}, so the signature stage
    costs the same corpus pass the doc-grain op already pays."""
    return (
        _paragraph_pairs(spark, sf_dir)
        .select(
            "doc_a",
            F.col("blk_a").cast("int").alias("blk_a"),
            "doc_b",
            F.col("blk_b").cast("int").alias("blk_b"),
            "jaccard",
        )
        .orderBy("doc_a", "blk_a", "doc_b", "blk_b")
    )


def _paragraph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified cross-doc paragraph-block near-dup pairs (doc_a, blk_a,
    doc_b, blk_b, jaccard) with doc_a < doc_b — the shared candidate
    machinery of ``dedup_paragraph_minhash`` and the cleaned-corpus
    materialization (curation.dedup_paragraph_cleaned_corpus)."""
    docs = _docs_par(spark, sf_dir)
    ws = F.split("text", " ")
    blocks = (
        docs.select(
            "doc_id",
            ws.alias("ws"),
            F.expr(f"(size(split(text, ' ')) + {PARA_W - 1}) div {PARA_W}")
            .alias("n_blk"),
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_blk") - 1)
            ).alias("blk"),
            "ws",
        )
        .select(
            "doc_id",
            "blk",
            F.expr(f"slice(ws, blk * {PARA_W} + 1, {PARA_W})").alias("bt"),
        )
        .filter(F.size("bt") >= NGRAM)
        .select(
            "doc_id",
            "blk",
            F.expr(
                f"array_distinct(transform(sequence(1, size(bt) - {NGRAM - 1}),"
                f" i -> concat_ws(' ', slice(bt, i, {NGRAM}))))"
            ).alias("sh"),
        )
        # the block-shingle frame feeds THREE consumers (the signature
        # stage and both verify sides) and the band frame self-joins —
        # without materialization the shingle+signature HOFs re-run ~4x
        # (measured 7.9s -> 2.3s at sf0.1). localCheckpoint here; at
        # real scale this is persist(DISK_ONLY) of a narrow
        # (ids + shingles) frame, the cost of scanning the corpus once.
        .localCheckpoint(eager=True)
    )
    sig = blocks.select(
        "doc_id", "blk", "sh", minhash_signature("sh", PARA_PERMS).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(PARA_BANDS - 1))).alias("b"),
        "sig",
    ).select(
        "doc_id",
        "blk",
        F.expr(
            f"concat(b, ':', concat_ws(',', transform("
            f"slice(sig, b * {PARA_R} + 1, {PARA_R}), "
            f"x -> cast(x as string))))"
        ).alias("band_key"),
    ).localCheckpoint(eager=True)  # self-joined below: one signature pass
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.blk").alias("blk_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.blk").alias("blk_b"),
        )
        .distinct()
    )
    xa = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("blk").alias("blk_a"),
        F.col("sh").alias("sha"),
    )
    yb = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk").alias("blk_b"),
        F.col("sh").alias("shb"),
    )
    return (
        cand.join(xa, ["doc_a", "blk_a"])
        .join(yb, ["doc_b", "blk_b"])
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sha", "shb"))
            * 1.0
            / F.size(F.array_union("sha", "shb")),
        )
        .filter(F.col("jaccard") >= PARA_TAU)
        .select("doc_a", "blk_a", "doc_b", "blk_b", "jaccard")
    )


# Shared oracle CTE prefix for the paragraph-grain family: doc tokens,
# block grid, block shingles, signatures, bands, candidate pairs, and
# the exact-Jaccard verified pairs (vp). MATERIALIZED where consumed
# more than once downstream.
_PARA_CTES = f"""d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
blk AS (
  SELECT doc_id, b AS blk, ws[b * {PARA_W} + 1 : b * {PARA_W} + {PARA_W}]
           AS bt
  FROM d, LATERAL unnest(generate_series(
           0, (len(ws) + {PARA_W - 1}) // {PARA_W} - 1)) AS u(b)),
bs AS MATERIALIZED (
  SELECT doc_id, blk,
         list_distinct(list_transform(
           generate_series(1, len(bt) - {NGRAM - 1}),
           i -> bt[i] || ' ' || bt[i+1] || ' ' || bt[i+2])) AS sh
  FROM blk WHERE len(bt) >= {NGRAM}),
sig AS (
  SELECT doc_id, blk,
         {sql_minhash_signature_duck('sh', PARA_PERMS)} AS sig
  FROM bs),
bands AS (
  SELECT doc_id, blk,
         b || ':' || array_to_string(
           sig[b * {PARA_R} + 1 : b * {PARA_R} + {PARA_R}], ',')
           AS band_key
  FROM sig, LATERAL unnest(generate_series(0, {PARA_BANDS - 1})) AS u(b)),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, x.blk AS blk_a,
                  y.doc_id AS doc_b, y.blk AS blk_b
  FROM bands x JOIN bands y
    ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
vp AS MATERIALIZED (
  SELECT doc_a, blk_a, doc_b, blk_b,
         len(list_intersect(a.sh, b.sh)) * 1.0
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
           AS jaccard
  FROM cand
  JOIN bs a ON doc_a = a.doc_id AND blk_a = a.blk
  JOIN bs b ON doc_b = b.doc_id AND blk_b = b.blk
  WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {PARA_TAU})"""


ORACLE_PARAGRAPH_MINHASH = f"""
WITH {_PARA_CTES}
SELECT doc_a, CAST(blk_a AS INT) AS blk_a,
       doc_b, CAST(blk_b AS INT) AS blk_b, jaccard
FROM vp
ORDER BY doc_a, blk_a, doc_b, blk_b
"""


# --------------------------------------------------------------------------
# Cross-source duplication matrix
# --------------------------------------------------------------------------

def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts cross-tabbed by SOURCE pair — the
    procurement view of duplication: which feeds copy from which (a fat
    off-diagonal cell means two vendors sell overlapping crawls; a fat
    diagonal means one feed re-crawls itself). Source pair is
    normalized (lexicographic lo/hi) so each unordered pair is one
    cell; shares are exact rationals of the total dup-pair count.

    Scale: the thresholded dup-edge set is orders of magnitude smaller
    than the corpus; two doc_id-keyed joins attach sources, one
    cell-bounded agg."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    lab = (
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
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
    )
    cells = lab.groupBy("src_lo", "src_hi").agg(
        F.count("*").cast("long").alias("n_pairs")
    ).localCheckpoint(eager=True)
    tot = cells.agg(F.sum("n_pairs").cast("long").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "src_lo",
            "src_hi",
            "n_pairs",
            (F.col("src_lo") == F.col("src_hi")).alias("within_source"),
            F.expr(rat_round6_spark("n_pairs", "n_total")).alias(
                "pair_share_r6"
            ),
        )
        .orderBy("src_lo", "src_hi")
    )


ORACLE_CROSS_SOURCE_MATRIX = f"""
WITH {_GRAPH_SYM_CTES},
lab AS (
  SELECT least(sa.source, sb.source) AS src_lo,
         greatest(sa.source, sb.source) AS src_hi
  FROM dup
  JOIN documents sa ON dup.doc_a = sa.doc_id
  JOIN documents sb ON dup.doc_b = sb.doc_id),
cells AS (
  SELECT src_lo, src_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM lab GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM cells)
SELECT src_lo, src_hi, n_pairs,
       (src_lo = src_hi) AS within_source,
       {rat_round6_duck("n_pairs", "n_total")} AS pair_share_r6
FROM cells, tot
ORDER BY src_lo, src_hi
"""


# --------------------------------------------------------------------------
# Per-component density over the near-dup graph
# --------------------------------------------------------------------------

def graph_component_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge density per near-dup component: n_nodes, n_edges and
    2E/(n(n−1)) — separates CLIQUE-like components (density ≈ 1:
    genuine template families, safe to keep one representative) from
    sparse chained components (density → 0: threshold-noise bridges
    where keep-one dedup would over-delete). The companion readout to
    dedup_cluster_size_histogram's size bands.

    Scale: components via the O(log n) star contraction; edges ride
    one doc_id-keyed join onto the labels; the rollup is
    component-bounded. Components come from edges, so n >= 2 always —
    the density denominator never sees zero."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    labels = cc_components(edges).localCheckpoint(eager=True)
    nodes = labels.groupBy("comp").agg(F.count("*").alias("n_nodes"))
    ecnt = (
        edges.join(
            labels.select(
                F.col("doc_id").alias("doc_a"), F.col("comp").alias("comp")
            ),
            "doc_a",
        )
        .groupBy("comp")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        nodes.join(ecnt, "comp")
        .select(
            F.col("comp").cast("long").alias("component_id"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.expr(
                rat_round6_spark(
                    "2 * n_edges", "n_nodes * (n_nodes - 1)"
                )
            ).alias("density_r6"),
        )
        .orderBy("component_id")
    )


ORACLE_COMPONENT_DENSITY = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
dup AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS MATERIALIZED (
  SELECT src AS doc_id, MIN(dst) AS component_id
  FROM reach GROUP BY src),
nodes AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM comp GROUP BY 1),
ecnt AS (
  SELECT c.component_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM dup JOIN comp c ON dup.doc_a = c.doc_id
  GROUP BY 1)
SELECT component_id, n_nodes, n_edges,
       {rat_round6_duck("2 * n_edges", "n_nodes * (n_nodes - 1)")}
         AS density_r6
FROM nodes JOIN ecnt USING (component_id)
ORDER BY component_id
"""


# --------------------------------------------------------------------------
# Local clustering coefficient per node (near-dup graph)
# --------------------------------------------------------------------------

LCC_DEG_CAP = 64  # wedge-enumeration guard: hubs above this degree are
# reported (degree is one cheap agg) but NOT wedge-expanded — a single
# true hub at production scale would otherwise own deg² of the Σ deg²
# wedge work on one key (VERDICT r11 #5). 64² = 4096 wedges/node is the
# per-key ceiling; on the fixture graph no node comes near it, so the
# cap is pure insurance there (asserted in the star-graph pytest twin).


def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node of the near-dup graph:
    lcc(v) = 2·t(v) / (deg(v)·(deg(v)−1)) where t(v) counts edges among
    v's neighbors — the per-node drill-down of
    ``graph_global_transitivity`` (a node with high degree but lcc ≈ 0
    is a hub bridging unrelated template families: exactly the doc a
    keep-one dedup must NOT pick as the representative). Exact
    rational; deg < 2 nodes report 0 by convention. Nodes with
    deg > {LCC_DEG_CAP} are degree-capped: reported with
    ``capped = true`` and NULL wedge/lcc columns instead of being
    wedge-expanded (a hub's neighborhood is by definition not a
    coherent dup clique, so its exact lcc is not worth deg² work —
    the capped flag itself IS the hub triage signal).

    Scale: wedges enumerate as two keyed joins on the BOUNDED dup-edge
    set, with per-key work capped at {LCC_DEG_CAP}² by the hub guard
    (Σ min(deg, cap)² — the triangle-counting posture, skew-proof,
    never all pairs); the closing-edge check is one more hash join on
    canonical (a < b) pairs."""
    edges, sym = _neardup_graph(spark, sf_dir)
    deg = sym.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)  # bounded node table; feeds the
    # eligible-center semi-join AND the final report join
    centers = deg.filter(F.col("deg") <= LCC_DEG_CAP).select(
        F.col("doc_id").alias("v")
    )
    # wedges centered at eligible v with canonical endpoints a < b
    sym_ok = sym.join(
        F.broadcast(centers), sym["doc_a"] == centers["v"]
    ).select("doc_a", "doc_b")
    w1 = sym_ok.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("a"))
    w2 = sym_ok.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("b"))
    wedges = w1.join(w2, "v").filter(F.col("a") < F.col("b"))
    closed = wedges.join(
        edges.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        ),
        ["a", "b"],
    )
    tri = closed.groupBy(F.col("v").alias("doc_id")).agg(
        F.count("*").alias("t")
    )
    return (
        deg.join(tri, "doc_id", "left")
        .select(
            "doc_id",
            F.col("deg").cast("long").alias("degree"),
            (F.col("deg") > LCC_DEG_CAP).alias("capped"),
            F.when(
                F.col("deg") <= LCC_DEG_CAP,
                F.coalesce("t", F.lit(0)).cast("long"),
            ).alias("n_closed_wedges"),
            F.expr(
                f"case when deg > {LCC_DEG_CAP} then cast(null as double) "
                "when deg >= 2 then "
                + rat_round6_spark(
                    "2 * coalesce(t, 0)", "deg * (deg - 1)"
                )
                + " else 0.0d end"
            ).alias("lcc_r6"),
        )
        .orderBy("doc_id")
    )


ORACLE_LOCAL_CLUSTERING = f"""
WITH {_GRAPH_SYM_CTES},
deg AS (SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
wedges AS (
  SELECT w1.doc_a AS v, w1.doc_b AS a, w2.doc_b AS b
  FROM sym w1 JOIN sym w2 ON w1.doc_a = w2.doc_a AND w1.doc_b < w2.doc_b
  JOIN deg d ON d.doc_id = w1.doc_a AND d.deg <= {LCC_DEG_CAP}),
closed AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t
  FROM wedges JOIN dup ON wedges.a = dup.doc_a AND wedges.b = dup.doc_b
  GROUP BY 1)
SELECT deg.doc_id, deg.deg AS degree,
       deg.deg > {LCC_DEG_CAP} AS capped,
       CASE WHEN deg.deg <= {LCC_DEG_CAP}
            THEN COALESCE(t, 0) END AS n_closed_wedges,
       CASE WHEN deg > {LCC_DEG_CAP} THEN CAST(NULL AS DOUBLE)
            WHEN deg >= 2 THEN
         {rat_round6_duck("2 * COALESCE(t, 0)", "deg * (deg - 1)")}
       ELSE 0.0 END AS lcc_r6
FROM deg LEFT JOIN closed ON deg.doc_id = closed.v
ORDER BY deg.doc_id
"""


SPECS = [
    QuerySpec("graph_local_clustering", graph_local_clustering,
              ORACLE_LOCAL_CLUSTERING, ("dedup", "graph", "stats"),
              doc="per-node local clustering coefficient over the "
                  "near-dup graph (hub-vs-clique triage for keep-one "
                  "dedup; wedge joins, exact rational)"),
    QuerySpec("dedup_exact_clusters", dedup_exact_clusters,
              ORACLE_EXACT_CLUSTERS, ("dedup",)),
    QuerySpec("dedup_exact_stats", dedup_exact_stats, ORACLE_EXACT_STATS,
              ("dedup",)),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard,
              ORACLE_NGRAM_JACCARD, ("dedup", "neardup"), bench=True),
    QuerySpec("dedup_char_jaccard", dedup_char_jaccard,
              ORACLE_CHAR_JACCARD, ("dedup", "neardup", "char")),
    QuerySpec("dedup_prefix_filter_join", dedup_prefix_filter_join,
              ORACLE_PREFIX_FILTER, ("dedup", "neardup", "simjoin"),
              doc="prefix-filtered set-similarity join (AllPairs/PPJoin "
                  "candidate scheme, provably complete for J >= 0.8; "
                  "oracle = unpruned brute force, integer threshold "
                  "cross-multiply)"),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, ORACLE_MINHASH_LSH,
              ("dedup", "neardup", "lsh"), bench=True),
    QuerySpec("dedup_simhash", dedup_simhash, ORACLE_SIMHASH,
              ("dedup", "neardup")),
    QuerySpec("dedup_cc_clusters", dedup_cc_clusters, ORACLE_CC,
              ("dedup", "neardup", "graph"),
              doc="connected components: near-dup pairs → dedup groups"),
    QuerySpec("dedup_canonical_corpus", dedup_canonical_corpus,
              _oracle_canonical(), ("dedup", "neardup", "pipeline"),
              doc="canonical-corpus materialization: transitive near-dup "
                  "components + keep-best-quality survivor per component "
                  "(the emit step of the dedup funnel)"),
    QuerySpec("graph_pagerank_neardup", graph_pagerank_neardup,
              ORACLE_PAGERANK, ("dedup", "graph", "iterative"),
              doc="power-iteration PageRank on the near-dup graph "
                  "(template-hub detection)"),
    QuerySpec("graph_khop_reach", graph_khop_reach,
              ORACLE_KHOP_REACH, ("dedup", "graph", "iterative"),
              doc="bounded-depth BFS min-hop reachability from a "
                  "deterministic seed set over the near-dup graph "
                  "(contamination blast-radius; unrolled frontier "
                  "joins, localCheckpoint lineage)"),
    QuerySpec("dedup_threshold_sweep", dedup_threshold_sweep,
              ORACLE_THRESHOLD_SWEEP, ("dedup", "neardup", "calibration"),
              doc="dedup yield curve over the 0.1-1.0 Jaccard grid "
                  "(pairs + distinct docs flagged per threshold; one "
                  "run of the shared candidate machinery, integer "
                  "cross-multiplied threshold tests)"),
    QuerySpec("graph_degree_assortativity", graph_degree_assortativity,
              ORACLE_ASSORTATIVITY, ("dedup", "graph", "audit"),
              doc="degree assortativity of the near-dup graph (sqrt-free "
                  "symmetric-edge Pearson, signed exact rational, "
                  "NULL-guarded zero-variance case)"),
    QuerySpec("dedup_containment", dedup_containment, ORACLE_CONTAINMENT,
              ("dedup", "neardup", "containment"),
              doc="asymmetric shingle containment — subset-duplicate "
                  "(quoted/wrapped doc) detection"),
    QuerySpec("dedup_cross_source_overlap", dedup_cross_source_overlap,
              ORACLE_CROSS_SOURCE, ("dedup", "provenance"),
              doc="verbatim-duplicate overlap matrix across source pairs"),
    QuerySpec("sketch_minhash_calibration", sketch_minhash_calibration,
              ORACLE_MINHASH_CALIB, ("dedup", "sketch", "calibration"),
              doc="MinHash estimate vs exact Jaccard over the real "
                  "production signatures (MAE/bias/max-err report)"),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine,
              ORACLE_EMB_COSINE, ("dedup", "neardup", "embedding"),
              doc="semantic near-dup groups over embedding cosine "
                  "(SemDeDup): exact pairs → components → keep flags"),
    QuerySpec("graph_triangles_neardup", graph_triangles_neardup,
              ORACLE_TRIANGLES, ("dedup", "graph"),
              doc="triangle count + clustering coefficient on the "
                  "near-dup graph (clique vs chain audit)"),
    QuerySpec("graph_common_neighbors", graph_common_neighbors,
              ORACLE_COMMON_NEIGHBORS, ("dedup", "graph", "linkpred"),
              doc="common-neighbors link prediction on the near-dup "
                  "graph (wedge enumeration, anti-join on existing "
                  "edges, exact neighborhood-Jaccard)"),
    QuerySpec("dedup_shingle_df_profile", dedup_shingle_df_profile,
              ORACLE_SHINGLE_DF_PROFILE, ("dedup", "stats", "tuning"),
              doc="shingle document-frequency log2 profile + MAX_DF "
                  "prune counts (the stop-shingle knob's telemetry)"),
    QuerySpec("dedup_paragraph_minhash", dedup_paragraph_minhash,
              ORACLE_PARAGRAPH_MINHASH, ("dedup", "lsh", "curation"),
              doc="paragraph-grain MinHash-LSH near-dup join (24-token "
                  "blocks, 16 perms, 4x4 bands, exact-Jaccard verify) — "
                  "the doc-level/span-level granularity bridge"),
    QuerySpec("dedup_cross_source_matrix", dedup_cross_source_matrix,
              ORACLE_CROSS_SOURCE_MATRIX, ("dedup", "curation", "stats"),
              doc="near-dup pair counts by normalized source pair "
                  "(which feeds copy from which), exact shares"),
    QuerySpec("graph_component_density", graph_component_density,
              ORACLE_COMPONENT_DENSITY, ("dedup", "graph", "stats"),
              doc="edge density per near-dup component (clique vs "
                  "chain separation; star-contraction CC + edge join)"),
    QuerySpec("dedup_cluster_size_histogram", dedup_cluster_size_histogram,
              _oracle_cluster_size_histogram(),
              ("dedup", "graph", "stats"),
              doc="near-dup component-size log2 histogram incl. "
                  "singletons (mega-template vs pair-dominated "
                  "threshold readout)"),
    QuerySpec("graph_kcore_peel", graph_kcore_peel, ORACLE_KCORE_PEEL,
              ("dedup", "graph", "iterative"),
              doc="bounded 2-core peeling (4 unrolled synchronous "
                  "rounds): per-node removal round + surviving core "
                  "degree on the near-dup graph"),
    QuerySpec("graph_label_propagation", graph_label_propagation,
              ORACLE_LABEL_PROPAGATION, ("dedup", "graph", "iterative"),
              doc="deterministic synchronous LPA communities (3 unrolled "
                  "rounds, most-frequent-neighbor label, min-label "
                  "ties) on the near-dup graph"),
    QuerySpec("graph_global_transitivity", graph_global_transitivity,
              ORACLE_GLOBAL_TRANSITIVITY, ("dedup", "graph", "stats"),
              doc="global transitivity 3*triangles/wedges + node/edge/"
                  "wedge counts of the near-dup graph (clique-vs-chain "
                  "threshold shape readout)"),
    QuerySpec("graph_degree_histogram", graph_degree_histogram,
              ORACLE_DEGREE_HISTOGRAM, ("dedup", "graph", "stats"),
              doc="log2-band degree distribution of the near-dup graph "
                  "(bit_length bands, hub/heavy-tail readout)"),
]
