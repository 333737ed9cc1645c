"""Round-14 continuation (second window) — batch S analytics operators.

Six new oracle-checked operators extending the engine surface beyond the
reference compactor (reference parity is complete; these are §2.4-family
additions following the standing four-evidence protocol: full DuckDB
oracle + 3-SF hostile sweep + planted pytest twin + plan-audit row):

- ``orders_littles_law_audit`` — Little's law L = λ·W reconciliation on
  the order lifecycle, with an independent day-spine expansion cross-
  checking the moment arithmetic (the merge_diag pattern applied to
  queueing theory).
- ``stats_nelson_aalen_interarrival`` — Nelson–Aalen cumulative hazard
  of next-event arrival over per-user inter-event gaps, final gaps
  right-censored at the feed end, every hazard term an exact ppb
  integer.
- ``text_readability_grid`` — LIX / RIX / sentence-length readability
  per (source, lang), micro-averaged exact rationals.
- ``emb_triplet_margin_rate`` — deterministic md5-seeded triplets over
  the label structure; integer-grid margin satisfaction per label.
- ``sketch_ams_f2_error`` — AMS/Tug-of-War second-moment sketch vs the
  exact F2, with a Chebyshev error-band certificate (the
  sketch_linear_counting_error pattern for F2).
- ``corpus_dedup_quality_shift`` — per-source mix shift (total-variation
  over (lang × length-band) cells) induced by global exact dedup.

Batch T (same protocol):

- ``orders_abc_migration`` — year-over-year ABC-class migration matrix
  of parts by exact-cents revenue (cumulative-share classing with
  integer cross-multiplied boundaries).
- ``split_covariate_balance`` — covariate balance of the house md5
  train/eval split: numeric mean gaps and categorical mix TVs.
- ``dedup_simhash_bit_bias`` — per-bit one-rate + χ² lane audit of the
  corpus SimHash fingerprints (shared signature expression).
- ``mm_payload_chi2_uniformity`` — byte-band χ² vs uniform per media
  type on the shared 16-band byte machinery.
- ``stats_friedman_daily_types`` — Friedman rank test of event types
  blocked by day (average-rank ties, exact integer rank lanes).
- ``text_js_divergence_sources`` — pairwise Jensen–Shannon divergence
  between source unigram mixes on the top-V vocabulary.

Exactness follows the house TIES.md catalogue: integer/rational lanes
with half-up rounding via rat/qrem, md5 integer hashing, the 2^-20
embedding grid, truncation (not ROUND) wherever a double is divided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import catalog
from ..functions.hashing import sql_md5_long_duck, sql_md5_long_spark
from ..functions.numeric import (
    qrem_round6_duck,
    qrem_round6_spark,
    rat_round6_duck,
    rat_round6_spark,
)
from ..registry import QuerySpec

_DAY_US = 86_400_000_000
_US = "unix_micros(cast(ts as timestamp))"
_US_DUCK = "epoch_us(ts)"


# --------------------------------------------------------------------------
# Little's law audit on the order lifecycle
# --------------------------------------------------------------------------

LL_BUCKET_DAYS = 30  # spine grain: the day-spine would amplify each order
# by its open duration (mean ~725 days in the fixture feed); 30-day
# buckets keep the reconciliation explode at ≤ ~85× per order (horizon
# ~2.5k days) while the identity it checks is exactly as strong.


def orders_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = λ·W) reconciliation per order priority class.

    An order is OPEN from its order date to the last ship date of its
    line items (inclusive). The moment path computes, per class, the
    arrival rate λ (orders per 30-day bucket), the mean time-in-system
    W (buckets), and the time-averaged WIP L = Σ dur / span — which
    satisfies L = λ·W as an algebraic identity. The audit teeth come
    from the second path: an independent bucket-spine EXPANSION
    (explode the open interval, count rows) whose total must equal the
    moment path's Σ dur exactly — the merge_diag-style cross-plan
    reconciliation that catches any off-by-one in interval semantics.
    ``w_days_r6`` is also emitted at day grain for interpretability.

    Exact: epoch-day integers, bucket = day div 30, all readouts
    half-up rationals on BIGINT lanes.

    Scale: one orders⋈lineitem shuffle keyed on orderkey; the explode
    amplification is bounded by the fulfillment horizon (≤ ~85 bucket
    rows per order), then collapses into a 5-class aggregate. Orders
    with a ship date before the order date (none in the fixture) are
    excluded on both sides — Spark's descending ``sequence`` vs
    DuckDB's empty ``generate_series`` would otherwise diverge."""
    day_o = f"unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US}"
    day_s = f"unix_micros(cast(l_shipdate as timestamp)) div {_DAY_US}"
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.expr(day_o).alias("sd"),
    )
    ends = (
        catalog.load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.expr(day_s)).alias("ed"))
    )
    o = (
        orders.join(ends, orders["o_orderkey"] == ends["l_orderkey"])
        .filter(F.col("ed") >= F.col("sd"))
        .select(
            "priority",
            "sd",
            "ed",
            F.expr(f"sd div {LL_BUCKET_DAYS}").alias("sb"),
            F.expr(f"ed div {LL_BUCKET_DAYS}").alias("eb"),
        )
        .localCheckpoint(eager=True)  # feeds the moment AND spine paths
    )
    base = o.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.min("sb").alias("b0"),
        F.max("eb").alias("b1"),
        F.sum(F.expr("eb - sb + 1")).cast("long").alias("sum_dur_buckets"),
        F.sum(F.expr("ed - sd + 1")).cast("long").alias("sum_dur_days"),
    )
    spine = (
        o.select("priority", F.explode(F.expr("sequence(sb, eb)")).alias("b"))
        .groupBy("priority")
        .agg(F.count("*").cast("long").alias("spine_open_buckets"))
    )
    span = "b1 - b0 + 1"
    return (
        base.join(spine, "priority")
        .select(
            "priority",
            "n_orders",
            F.expr(span).cast("long").alias("span_buckets"),
            "sum_dur_buckets",
            "spine_open_buckets",
            F.expr(rat_round6_spark("n_orders", span)).alias(
                "lambda_per_bucket_r6"
            ),
            F.expr(rat_round6_spark("sum_dur_buckets", "n_orders")).alias(
                "w_buckets_r6"
            ),
            F.expr(rat_round6_spark("sum_dur_days", "n_orders")).alias(
                "w_days_r6"
            ),
            F.expr(qrem_round6_spark("sum_dur_buckets", span)).alias(
                "l_avg_open_r6"
            ),
            (F.col("spine_open_buckets") == F.col("sum_dur_buckets")).alias(
                "littles_law_holds"
            ),
        )
        .orderBy("priority")
    )


ORACLE_LITTLES_LAW = f"""
WITH o AS (
  SELECT o.o_orderpriority AS priority,
         (epoch_us(o.o_orderdate) // {_DAY_US}) AS sd, e.ed,
         ((epoch_us(o.o_orderdate) // {_DAY_US}) // {LL_BUCKET_DAYS}) AS sb,
         (e.ed // {LL_BUCKET_DAYS}) AS eb
  FROM orders o
  JOIN (SELECT l_orderkey,
               MAX(epoch_us(l_shipdate) // {_DAY_US}) AS ed
        FROM lineitem GROUP BY 1) e
    ON o.o_orderkey = e.l_orderkey
  WHERE e.ed >= (epoch_us(o.o_orderdate) // {_DAY_US})),
base AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
         MIN(sb) AS b0, MAX(eb) AS b1,
         CAST(SUM(eb - sb + 1) AS BIGINT) AS sum_dur_buckets,
         CAST(SUM(ed - sd + 1) AS BIGINT) AS sum_dur_days
  FROM o GROUP BY 1),
spine AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS spine_open_buckets
  FROM (SELECT priority, unnest(generate_series(sb, eb)) AS b FROM o)
  GROUP BY 1)
SELECT b.priority, b.n_orders,
       CAST(b.b1 - b.b0 + 1 AS BIGINT) AS span_buckets,
       b.sum_dur_buckets, s.spine_open_buckets,
       {rat_round6_duck('b.n_orders', 'b.b1 - b.b0 + 1')}
         AS lambda_per_bucket_r6,
       {rat_round6_duck('b.sum_dur_buckets', 'b.n_orders')} AS w_buckets_r6,
       {rat_round6_duck('b.sum_dur_days', 'b.n_orders')} AS w_days_r6,
       {qrem_round6_duck('b.sum_dur_buckets', 'b.b1 - b.b0 + 1')}
         AS l_avg_open_r6,
       (s.spine_open_buckets = b.sum_dur_buckets) AS littles_law_holds
FROM base b JOIN spine s ON b.priority = s.priority
ORDER BY b.priority
"""


# --------------------------------------------------------------------------
# Nelson–Aalen cumulative churn hazard
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def stats_nelson_aalen_interarrival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson–Aalen cumulative hazard of "the next event arrives",
    over per-user inter-event gaps at hour grain — renewal-process
    survival with proper right-censoring: every consecutive event pair
    contributes a COMPLETED gap, and each user's final open gap (last
    event → feed end) is CENSORED (it is known to be at least that
    long). At every gap length t (hours) with ≥1 completion: the risk
    set n_t (gaps, completed or censored, of duration ≥ t), the
    completion count d_t, the hazard increment d_t/n_t, and the
    cumulative hazard Σ_{u≤t} d_u/n_u. A flat hazard ⇒ memoryless
    (Poisson) arrivals; a falling hazard ⇒ burstiness (the survival-
    curve view of ev_interarrival_burstiness's index).

    Exactness: each hazard term is quantized HALF-UP to an integer
    part-per-billion lane — (d·2e9 + n) div (2n) — and the cumulative
    sum runs on those integers, so the readout is an exact decimal
    both engines hash identically (the KM product form would need a
    cross-engine ``ln``; Nelson–Aalen's sum form needs none).

    Scale: one user-keyed window pass over the fact stream builds the
    gaps; everything after is gap-hour grain — the cumulative-sum
    windows order ≤ feed-span-hours rows (calendar-bounded), so the
    single-partition windows are safe at any corpus size."""
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr(_US).alias("us")
    )
    endrow = ev.agg(F.max("us").alias("feed_end"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("nxt", F.lead("us").over(w))
        .crossJoin(F.broadcast(endrow))
        .select(
            F.expr(
                f"coalesce((nxt - us) div {_HOUR_US},"
                f" (feed_end - us) div {_HOUR_US})"
            ).alias("dur_h"),
            F.isnotnull("nxt").cast("long").alias("is_complete"),
        )
    )
    t = gaps.groupBy("dur_h").agg(
        F.count("*").cast("long").alias("c_all"),
        F.sum("is_complete").cast("long").alias("c_done"),
    )
    w_rev = W.orderBy(F.desc("dur_h")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = t.withColumn("n_risk", F.sum("c_all").over(w_rev).cast("long"))
    deaths = risk.filter(F.col("c_done") >= 1).withColumn(
        "hz_ppb",
        F.expr("(c_done * 2000000000 + n_risk) div (2 * n_risk)"),
    )
    w_cum = W.orderBy("dur_h").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        deaths.withColumn(
            "cum_ppb", F.sum("hz_ppb").over(w_cum).cast("long")
        )
        .select(
            F.col("dur_h").cast("long").alias("gap_hours"),
            "n_risk",
            F.col("c_done").alias("n_completed"),
            (F.col("hz_ppb").cast("double") / F.lit(1000000000.0)).alias(
                "hazard_r9"
            ),
            (F.col("cum_ppb").cast("double") / F.lit(1000000000.0)).alias(
                "cum_hazard_r9"
            ),
        )
        .orderBy("gap_hours")
    )


ORACLE_NELSON_AALEN = f"""
WITH ev AS (
  SELECT user_id, event_id, ({_US_DUCK}) AS us FROM events),
fe AS (SELECT MAX(us) AS feed_end FROM ev),
gaps AS (
  SELECT COALESCE((nxt - us) // {_HOUR_US},
                  (fe.feed_end - us) // {_HOUR_US}) AS dur_h,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS is_complete
  FROM (SELECT user_id, us,
               LEAD(us) OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS nxt
        FROM ev), fe),
t AS (
  SELECT dur_h, CAST(COUNT(*) AS BIGINT) AS c_all,
         CAST(SUM(is_complete) AS BIGINT) AS c_done
  FROM gaps GROUP BY 1),
risk AS (
  SELECT dur_h, c_done,
         CAST(SUM(c_all) OVER (ORDER BY dur_h DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM t),
d AS (
  SELECT dur_h, n_risk, c_done,
         (c_done * 2000000000 + n_risk) // (2 * n_risk) AS hz_ppb
  FROM risk WHERE c_done >= 1),
c AS (
  SELECT dur_h, n_risk, c_done, hz_ppb,
         CAST(SUM(hz_ppb) OVER (ORDER BY dur_h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_ppb
  FROM d)
SELECT CAST(dur_h AS BIGINT) AS gap_hours, n_risk,
       c_done AS n_completed,
       CAST(hz_ppb AS DOUBLE) / 1000000000.0 AS hazard_r9,
       CAST(cum_ppb AS DOUBLE) / 1000000000.0 AS cum_hazard_r9
FROM c ORDER BY gap_hours
"""


# --------------------------------------------------------------------------
# Readability grid
# --------------------------------------------------------------------------

LIX_LONG_LEN = 7  # LIX's "long word": ≥ 7 characters


def text_readability_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIX / RIX readability per (source, lang) — the curation-side
    complexity screen next to the quality gates: LIX = words/sentences
    + 100·longwords/words (micro-averaged over the group: the three
    count sums are pooled before the ratio, so big docs weigh more),
    RIX = longwords/sentences, plus average sentence length and the
    long-word share. Sentences are [.!?] occurrences clamped to ≥1 per
    doc (the fixture corpus has no terminal punctuation — every doc
    counts as one sentence there; real corpora exercise the full
    formula, as the planted twin does).

    Exact: integer token/char counts; LIX's pooled form
    (W² + 100·LW·S) / (S·W) runs through the qrem split (numerator ×
    2e6 would overflow at corpus scale); the rest are rat half-up
    rationals.

    Scale: map-only per-doc counting (split + filter HOFs, no
    explode), then a (source × lang)-bounded aggregate — one shuffle
    of pre-aggregated partials."""
    d = catalog.load(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.expr("size(split(text, ' '))").cast("long").alias("w"),
        F.expr(
            f"size(filter(split(text, ' '), t -> length(t) >= {LIX_LONG_LEN}))"
        )
        .cast("long")
        .alias("lw"),
        F.expr(
            "greatest(1, length(text)"
            " - length(regexp_replace(text, '[.!?]', '')))"
        )
        .cast("long")
        .alias("s"),
    )
    g = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("ws"),
        F.sum("lw").cast("long").alias("lws"),
        F.sum("s").cast("long").alias("ss"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        F.expr(
            qrem_round6_spark("ws * ws + 100 * lws * ss", "ss * ws")
        ).alias("lix_r6"),
        F.expr(rat_round6_spark("lws", "ss")).alias("rix_r6"),
        F.expr(rat_round6_spark("ws", "ss")).alias("asl_r6"),
        F.expr(rat_round6_spark("lws", "ws")).alias("long_share_r6"),
    ).orderBy("source", "lang")


ORACLE_READABILITY = f"""
WITH d AS (
  SELECT source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> length(t) >= {LIX_LONG_LEN}))
              AS BIGINT) AS lw,
         CAST(greatest(1, length(text)
              - length(regexp_replace(text, '[.!?]', '', 'g')))
              AS BIGINT) AS s
  FROM documents),
g AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS ws, CAST(SUM(lw) AS BIGINT) AS lws,
         CAST(SUM(s) AS BIGINT) AS ss
  FROM d GROUP BY 1, 2)
SELECT source, lang, n_docs,
       {qrem_round6_duck('ws * ws + 100 * lws * ss', 'ss * ws')} AS lix_r6,
       {rat_round6_duck('lws', 'ss')} AS rix_r6,
       {rat_round6_duck('ws', 'ss')} AS asl_r6,
       {rat_round6_duck('lws', 'ws')} AS long_share_r6
FROM g ORDER BY source, lang
"""


# --------------------------------------------------------------------------
# Deterministic triplet margin audit
# --------------------------------------------------------------------------

_EMB_Q_SQL = (
    "transform(embedding, x -> "
    "cast(cast(x as double) * 1048576.0 as bigint))"
)  # the canonical 2^-20 grid (similarity._KM_QUANT_SQL)


def emb_triplet_margin_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin audit of the embedding space: for every anchor,
    a deterministic positive (the md5-cyclic successor within its
    label) and a deterministic negative (the positionally-matched
    vector in the cyclically-next label), and the per-label rate at
    which d²(anchor, neg) > d²(anchor, pos) strictly — the metric-
    learning sanity readout "do labels induce a margin" without any
    RNG (triplet choice is a pure function of md5(vec_id), so both
    engines and every rerun see the same triplets).

    Singleton labels have no positive and are excluded as anchors
    (they still serve as negatives). Distances are exact BIGINT on the
    2^-20 grid; margin extremes are emitted raw (grid² units).

    Scale: two keyed self-joins on (label, rank) — rank is dense
    within label, so both joins are shuffle-bounded by the corpus with
    no quadratic term; the label directory is a broadcast."""
    h = sql_md5_long_spark("cast(vec_id as string)")
    e = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_EMB_Q_SQL).alias("qv"), F.expr(h).alias("h")
    )
    rk = (
        e.withColumn(
            "rk",
            F.row_number().over(W.partitionBy("label").orderBy("h", "vec_id"))
            - 1,
        )
        .select("vec_id", "label", "qv", "rk")
        .localCheckpoint(eager=True)  # anchor + positive + negative sides
    )
    lbl = (
        rk.groupBy("label")
        .agg(F.count("*").cast("long").alias("sz"))
        .withColumn("li", F.row_number().over(W.orderBy("label")) - 1)
    )
    lcnt = lbl.agg(F.count("*").cast("long").alias("nl"))
    lbl2 = lbl.crossJoin(F.broadcast(lcnt))
    a = (
        rk.join(F.broadcast(lbl2), "label")
        .filter(F.col("sz") > 1)
        .select("vec_id", "label", "qv", "rk", "sz", "li", "nl")
    )
    pos = rk.select(
        F.col("label").alias("p_label"),
        F.col("rk").alias("p_rk"),
        F.col("qv").alias("p_qv"),
    )
    ap = a.join(
        pos,
        (F.col("label") == F.col("p_label"))
        & (F.col("p_rk") == F.expr("(rk + 1) % sz")),
    )
    nmap = lbl2.select(
        F.col("li").alias("n_li"),
        F.col("label").alias("n_label"),
        F.col("sz").alias("n_sz"),
    )
    an = ap.join(F.broadcast(nmap), F.expr("n_li = (li + 1) % nl"))
    neg = rk.select(
        F.col("label").alias("g_label"),
        F.col("rk").alias("g_rk"),
        F.col("qv").alias("g_qv"),
    )
    at = an.join(
        neg,
        (F.col("g_label") == F.col("n_label"))
        & (F.col("g_rk") == F.expr("rk % n_sz")),
    )

    def d2(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, (a, b) -> (a - b) * (a - b)),"
            f" cast(0 as bigint), (acc, v) -> acc + v)"
        )

    tri = at.select(
        "label",
        F.expr(d2("qv", "p_qv")).alias("d2_pos"),
        F.expr(d2("qv", "g_qv")).alias("d2_neg"),
    )
    return (
        tri.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_triplets"),
            F.sum((F.col("d2_neg") > F.col("d2_pos")).cast("long"))
            .cast("long")
            .alias("n_strict"),
            F.sum((F.col("d2_neg") == F.col("d2_pos")).cast("long"))
            .cast("long")
            .alias("n_ties"),
            F.min(F.expr("d2_neg - d2_pos")).alias("margin_min"),
            F.max(F.expr("d2_neg - d2_pos")).alias("margin_max"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n_triplets",
            "n_strict",
            "n_ties",
            F.expr(rat_round6_spark("n_strict", "n_triplets")).alias(
                "strict_rate_r6"
            ),
            "margin_min",
            "margin_max",
        )
        .orderBy("label")
    )


ORACLE_TRIPLET_MARGIN = f"""
WITH q AS (
  SELECT vec_id, label,
         {sql_md5_long_duck("CAST(vec_id AS VARCHAR)")} AS h
  FROM embeddings),
vals AS MATERIALIZED (
  SELECT vec_id, d.dim,
         CAST(TRUNC(CAST(embedding[d.dim + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS qv
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS dim) d),
r AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY h, vec_id) - 1 AS rk
  FROM q),
lbl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS sz FROM q GROUP BY 1),
lbl2 AS (
  SELECT label, sz, ROW_NUMBER() OVER (ORDER BY label) - 1 AS li,
         (SELECT COUNT(*) FROM lbl) AS nl
  FROM lbl),
a AS (
  SELECT r.vec_id, r.label, r.rk, l.sz, l.li, l.nl
  FROM r JOIN lbl2 l USING (label) WHERE l.sz > 1),
ap AS (
  SELECT a.*, p.vec_id AS pos_id
  FROM a JOIN r p ON p.label = a.label AND p.rk = (a.rk + 1) % a.sz),
an AS (
  SELECT ap.*, nm.label AS n_label, nm.sz AS n_sz
  FROM ap JOIN lbl2 nm ON nm.li = (ap.li + 1) % ap.nl),
trip AS (
  SELECT an.vec_id, an.label, an.pos_id, g.vec_id AS neg_id
  FROM an JOIN r g ON g.label = an.n_label AND g.rk = an.rk % an.n_sz),
dp AS (
  SELECT t.vec_id, t.label,
         CAST(SUM((va.qv - vp.qv) * (va.qv - vp.qv)) AS BIGINT) AS d2_pos,
         CAST(SUM((va.qv - vn.qv) * (va.qv - vn.qv)) AS BIGINT) AS d2_neg
  FROM trip t
  JOIN vals va ON va.vec_id = t.vec_id
  JOIN vals vp ON vp.vec_id = t.pos_id AND vp.dim = va.dim
  JOIN vals vn ON vn.vec_id = t.neg_id AND vn.dim = va.dim
  GROUP BY 1, 2),
g AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_triplets,
         CAST(SUM(CASE WHEN d2_neg > d2_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_strict,
         CAST(SUM(CASE WHEN d2_neg = d2_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ties,
         CAST(MIN(d2_neg - d2_pos) AS BIGINT) AS margin_min,
         CAST(MAX(d2_neg - d2_pos) AS BIGINT) AS margin_max
  FROM dp GROUP BY 1)
SELECT CAST(label AS INT) AS label, n_triplets, n_strict, n_ties,
       {rat_round6_duck('n_strict', 'n_triplets')} AS strict_rate_r6,
       margin_min, margin_max
FROM g ORDER BY label
"""


# --------------------------------------------------------------------------
# AMS F2 sketch with error certificate
# --------------------------------------------------------------------------

AMS_LANES = 16
AMS_CHEB_5SIGMA_BP = 17678  # 5·sqrt(2/AMS_LANES) = 1.76776…, rounded UP
# to basis points: the Chebyshev 5σ band of the 16-lane mean estimator
# (Var(mean) ≤ 2·F2²/L for 4-wise-independent signs; md5 bits stand in
# for the 4-wise family — the same idealization every md5 lane op makes).


def sketch_ams_f2_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS / Tug-of-War second-moment sketch over the user_id frequency
    vector, with the exact F2 and a Chebyshev error-band certificate —
    the F2 member of the sketch-certificate family
    (sketch_linear_counting_error / sketch_grid_quantile_error): the
    sketch is the live single-pass estimator a 100 TB feed would keep,
    the exact path is the verifier, and the band verdict is an
    integer-exact comparison both engines hash identically.

    Each of the {AMS_LANES} lanes draws its ±1 sign for a key from one
    md5 bit; the lane sketch is the signed event count Σ_k c_k·s_k
    (one map-side pass, no pre-grouping), the lane estimate its
    square. The mean and median of the 16 lane estimates divide by
    powers of two, so even the double readouts are EXACT.

    Scale: the sketch path is a single aggregate with 16 conditional
    sums — map-side partials, one 1-row exchange; the exact-F2 path
    (the verifier, not the production estimator) is one groupBy(key)."""
    h = sql_md5_long_spark("cast(user_id as string)")
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", F.expr(h).alias("h")
    )
    lanes = ev.agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_keys"),
        *[
            F.sum(F.expr(f"((h >> {j}) & 1) * 2 - 1"))
            .cast("long")
            .alias(f"s{j}")
            for j in range(AMS_LANES)
        ],
    )
    f2 = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
        .agg(F.sum(F.expr("c * c")).cast("long").alias("f2_exact"))
    )
    ests = "array(" + ", ".join(
        f"s{j} * s{j}" for j in range(AMS_LANES)
    ) + ")"
    row = lanes.crossJoin(f2).select(
        "n_events",
        "n_keys",
        "f2_exact",
        F.expr(
            f"aggregate({ests}, cast(0 as bigint), (acc, v) -> acc + v)"
        ).alias("sum_est"),
        F.expr(f"array_sort({ests})").alias("se"),
    )
    return row.select(
        "n_events",
        "n_keys",
        "f2_exact",
        (F.col("sum_est").cast("double") / F.lit(float(AMS_LANES))).alias(
            "est_mean16"
        ),
        F.expr("cast(se[7] + se[8] as double) / 2").alias("est_median16"),
        F.expr(
            f"cast(floor(abs(cast(sum_est as double) / {AMS_LANES}"
            " - cast(f2_exact as double)) / cast(f2_exact as double)"
            " * cast(1000000 as double)) as double)"
            " / cast(1000000 as double)"
        ).alias("rel_err_t6"),
        F.expr(
            f"abs(sum_est - {AMS_LANES} * f2_exact) * 10000"
            f" <= {AMS_CHEB_5SIGMA_BP} * {AMS_LANES} * f2_exact"
        ).alias("within_5sigma"),
    )


def _ams_lane_sums_duck() -> str:
    return ",\n         ".join(
        f"CAST(SUM(((h >> {j}) & 1) * 2 - 1) AS BIGINT) AS s{j}"
        for j in range(AMS_LANES)
    )


_AMS_SQ = ", ".join(f"s{j} * s{j}" for j in range(AMS_LANES))

ORACLE_AMS_F2 = f"""
WITH ev AS (
  SELECT user_id,
         {sql_md5_long_duck("CAST(user_id AS VARCHAR)")} AS h
  FROM events),
lanes AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
         {_ams_lane_sums_duck()}
  FROM ev),
f2 AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY user_id)),
row0 AS (
  SELECT *, ({" + ".join(f"s{j} * s{j}" for j in range(AMS_LANES))})
           AS sum_est,
         list_sort([{_AMS_SQ}]) AS se
  FROM lanes, f2)
SELECT n_events, n_keys, f2_exact,
       CAST(sum_est AS DOUBLE) / {AMS_LANES} AS est_mean16,
       CAST(se[8] + se[9] AS DOUBLE) / 2 AS est_median16,
       floor(abs(CAST(sum_est AS DOUBLE) / {AMS_LANES}
             - CAST(f2_exact AS DOUBLE)) / CAST(f2_exact AS DOUBLE)
             * 1000000.0) / 1000000.0 AS rel_err_t6,
       (abs(sum_est - {AMS_LANES} * f2_exact) * 10000
        <= {AMS_CHEB_5SIGMA_BP} * {AMS_LANES} * f2_exact) AS within_5sigma
FROM row0
"""


# --------------------------------------------------------------------------
# Dedup-induced quality-mix shift
# --------------------------------------------------------------------------

QS_WB_DIV = 20  # length band: words div 20, capped
QS_WB_CAP = 7


def corpus_dedup_quality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does exact dedup do to each source's mix? Global exact
    dedup (md5(text), keep the lowest doc_id) is applied corpus-wide;
    per source, the total-variation distance between the PRE and POST
    distributions over (lang × length-band) cells, the survivor share,
    and the cell that moved most — the survivorship-bias audit a
    curation run keeps next to the dedup step (text_length_dup_bias
    answers "where do duplicates live" at corpus grain; this measures
    the induced per-source mix distortion).

    TV is the exact rational Σ|x·n_post − y·n_pre| / (2·n_pre·n_post)
    on BIGINT lanes (the ev_type_mix_drift_weekly construct); the
    top-mover tie-break is (|num| desc, lang asc, band asc). A source
    whose every doc loses the global keep-rule has no post
    distribution: n_post = 0 is guarded to an explicit NULL TV on both
    engines (Spark's ANSI ``div`` throws on a zero divisor; DuckDB's
    ``//`` returns NULL — the CASE makes the "mix shift undefined"
    readout engine-independent; pinned by the twin).

    Scale: one md5 groupBy for the winners, a semi join back on
    doc_id, then everything is (source × lang × band)-bounded."""
    d = (
        catalog.load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "lang",
            F.expr(
                f"least(size(split(text, ' ')) div {QS_WB_DIV}, {QS_WB_CAP})"
            )
            .cast("long")
            .alias("wb"),
            F.md5("text").alias("sig"),
        )
        .localCheckpoint(eager=True)  # pre counts + winner semi join
    )
    winners = d.groupBy("sig").agg(F.min("doc_id").alias("doc_id"))
    post = d.join(winners.select("doc_id"), "doc_id", "semi")
    pre_c = d.groupBy("source", "lang", "wb").agg(
        F.count("*").cast("long").alias("x")
    )
    post_c = post.groupBy("source", "lang", "wb").agg(
        F.count("*").cast("long").alias("y")
    )
    cells = pre_c.join(post_c, ["source", "lang", "wb"], "left").select(
        "source",
        "lang",
        "wb",
        "x",
        F.coalesce("y", F.lit(0)).cast("long").alias("y"),
    )
    tot = cells.groupBy("source").agg(
        F.sum("x").cast("long").alias("n_pre"),
        F.sum("y").cast("long").alias("n_post"),
    )
    terms = cells.join(tot, "source").select(
        "source",
        "lang",
        "wb",
        "n_pre",
        "n_post",
        F.expr("abs(x * n_post - y * n_pre)").alias("num"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("num").cast("long").alias("snum"),
        F.min("n_pre").alias("n_pre"),
        F.min("n_post").alias("n_post"),
    )
    wmv = W.partitionBy("source").orderBy(
        F.desc("num"), F.asc("lang"), F.asc("wb")
    )
    mover = (
        terms.withColumn("rn", F.row_number().over(wmv))
        .filter("rn = 1")
        .select(
            "source",
            F.expr("concat(lang, ':', cast(wb as string))").alias(
                "top_shift_cell"
            ),
        )
    )
    return (
        agg.join(mover, "source")
        .select(
            "source",
            "n_pre",
            "n_post",
            F.expr(rat_round6_spark("n_post", "n_pre")).alias(
                "kept_share_r6"
            ),
            F.expr(
                "case when n_post = 0 then cast(null as double) else "
                + rat_round6_spark("snum", "2 * n_pre * n_post")
                + " end"
            ).alias("mix_tv_r6"),
            "top_shift_cell",
        )
        .orderBy("source")
    )


ORACLE_DEDUP_QUALITY_SHIFT = f"""
WITH d AS (
  SELECT doc_id, source, lang,
         CAST(least(len(string_split(text, ' ')) // {QS_WB_DIV},
                    {QS_WB_CAP}) AS BIGINT) AS wb,
         md5(text) AS sig
  FROM documents),
winners AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY sig),
post AS (SELECT d.* FROM d WHERE d.doc_id IN (SELECT doc_id FROM winners)),
pre_c AS (
  SELECT source, lang, wb, CAST(COUNT(*) AS BIGINT) AS x
  FROM d GROUP BY 1, 2, 3),
post_c AS (
  SELECT source, lang, wb, CAST(COUNT(*) AS BIGINT) AS y
  FROM post GROUP BY 1, 2, 3),
cells AS (
  SELECT p.source, p.lang, p.wb, p.x,
         CAST(COALESCE(q.y, 0) AS BIGINT) AS y
  FROM pre_c p LEFT JOIN post_c q
    ON p.source = q.source AND p.lang = q.lang AND p.wb = q.wb),
tot AS (
  SELECT source, CAST(SUM(x) AS BIGINT) AS n_pre,
         CAST(SUM(y) AS BIGINT) AS n_post
  FROM cells GROUP BY 1),
terms AS (
  SELECT c.source, c.lang, c.wb, t.n_pre, t.n_post,
         abs(c.x * t.n_post - c.y * t.n_pre) AS num
  FROM cells c JOIN tot t ON c.source = t.source),
agg AS (
  SELECT source, CAST(SUM(num) AS BIGINT) AS snum,
         CAST(MIN(n_pre) AS BIGINT) AS n_pre,
         CAST(MIN(n_post) AS BIGINT) AS n_post
  FROM terms GROUP BY 1),
mover AS (
  SELECT source, lang || ':' || CAST(wb AS VARCHAR) AS top_shift_cell
  FROM (SELECT source, lang, wb,
               ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY num DESC, lang, wb) AS rn
        FROM terms) WHERE rn = 1)
SELECT a.source, a.n_pre, a.n_post,
       {rat_round6_duck('a.n_post', 'a.n_pre')} AS kept_share_r6,
       CASE WHEN a.n_post = 0 THEN CAST(NULL AS DOUBLE)
            ELSE {rat_round6_duck('a.snum', '2 * a.n_pre * a.n_post')}
       END AS mix_tv_r6,
       m.top_shift_cell
FROM agg a JOIN mover m ON a.source = m.source
ORDER BY a.source
"""


# ==========================================================================
# Batch T
# ==========================================================================

# --------------------------------------------------------------------------
# YoY ABC-class migration
# --------------------------------------------------------------------------

_REV_CENTS = (
    "cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"
)  # the house exact-cents revenue lane (identical IEEE product, one
# deterministic half-up to integer cents in both engines)


def orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year ABC-class migration of parts: within each order
    year, parts are classed by cumulative revenue share — A while the
    running total is ≤70 % of the year's revenue, B to 90 %, C beyond
    (revenue-desc, partkey-asc order; boundaries compared as integer
    cross-products cum·10 ≤ 7·total, never a float share) — and the
    migration matrix counts parts per (year, class_from, class_to)
    transition, with NEW (absent last year) and OUT (absent this year)
    lanes. The assortment-drift readout next to abc_analysis_parts'
    static frame.

    Scale: one orders⋈lineitem shuffle for the year key, a (year,
    part) aggregate, a per-year window over the PART DIMENSION (bounded
    by catalog size, not fact volume), and a keyed self-join on
    partkey. First feed year emits no rows (no predecessor)."""
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("yr")
    )
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.expr(_REV_CENTS).alias("cents")
    )
    pc = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("yr", "l_partkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    tot = pc.groupBy("yr").agg(F.sum("cents").cast("long").alias("t"))
    w = (
        W.partitionBy("yr")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    classed = (
        pc.withColumn("cum", F.sum("cents").over(w).cast("long"))
        .join(tot, "yr")
        .select(
            "yr",
            "l_partkey",
            F.when(F.expr("cum * 10 <= 7 * t"), "A")
            .when(F.expr("cum * 10 <= 9 * t"), "B")
            .otherwise("C")
            .alias("cls"),
        )
        .localCheckpoint(eager=True)  # both sides of the YoY join
    )
    yb = classed.agg(F.min("yr").alias("y0"), F.max("yr").alias("y1"))
    prev = classed.select(
        (F.col("yr") + 1).alias("yr"),
        "l_partkey",
        F.col("cls").alias("cls_from"),
    )
    cur = classed.select("yr", "l_partkey", F.col("cls").alias("cls_to"))
    j = cur.join(prev, ["yr", "l_partkey"], "full_outer").crossJoin(
        F.broadcast(yb)
    )
    return (
        j.filter((F.col("yr") > F.col("y0")) & (F.col("yr") <= F.col("y1")))
        .groupBy(
            F.col("yr").cast("int").alias("year"),
            F.coalesce("cls_from", F.lit("NEW")).alias("class_from"),
            F.coalesce("cls_to", F.lit("OUT")).alias("class_to"),
        )
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("year", "class_from", "class_to")
    )


ORACLE_ABC_MIGRATION = """
WITH pc AS (
  SELECT year(o.o_orderdate) AS yr, l.l_partkey,
         CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
tot AS (SELECT yr, CAST(SUM(cents) AS BIGINT) AS t FROM pc GROUP BY 1),
classed AS (
  SELECT pc.yr, pc.l_partkey,
         CASE WHEN cum * 10 <= 7 * t THEN 'A'
              WHEN cum * 10 <= 9 * t THEN 'B' ELSE 'C' END AS cls
  FROM (SELECT yr, l_partkey, cents,
               CAST(SUM(cents) OVER (PARTITION BY yr
                    ORDER BY cents DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM pc) pc
  JOIN tot ON pc.yr = tot.yr),
yb AS (SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM classed),
j AS (
  SELECT COALESCE(c.yr, p.yr) AS yr,
         COALESCE(p.cls_from, 'NEW') AS class_from,
         COALESCE(c.cls_to, 'OUT') AS class_to
  FROM (SELECT yr, l_partkey, cls AS cls_to FROM classed) c
  FULL OUTER JOIN (SELECT yr + 1 AS yr, l_partkey, cls AS cls_from
                   FROM classed) p
    ON c.yr = p.yr AND c.l_partkey = p.l_partkey)
SELECT CAST(j.yr AS INT) AS year, j.class_from, j.class_to,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM j, yb WHERE j.yr > yb.y0 AND j.yr <= yb.y1
GROUP BY 1, 2, 3 ORDER BY year, class_from, class_to
"""


# --------------------------------------------------------------------------
# Split covariate balance
# --------------------------------------------------------------------------

SPLIT_BAL_BUCKETS = 10  # the house md5 split lane (text.SPLIT_BUCKETS):
# buckets 0-7 train, 8-9 eval (val+test pooled) — the audit checks the
# SAME assignment the splitter ships.


def split_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance of the md5 train/eval split: a hash split is
    unbiased by construction, but any FINITE draw has sampling
    imbalance — this is the audit a training pipeline runs before
    attributing an eval gap to modeling. Four rows: the absolute
    train-vs-eval mean gap of n_chars and of the word count, and the
    total-variation distance between the split's lang and source
    mixes. stats_hash_split_fairness checks lane-count uniformity;
    this checks the covariates riding on the lanes.

    Exact: mean gap |S₁n₂ − S₂n₁|/(n₁n₂) and mix TV on BIGINT lanes.

    Scale: two map-side conditional aggregates (one global row, one
    per category) — no joins on the fact stream, categorical frames
    bounded by the lang/source alphabets."""
    b = (
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10)"
        f" as bigint) % {SPLIT_BAL_BUCKETS}"
    )
    d = catalog.load(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.expr("size(split(text, ' '))").cast("long").alias("nw"),
        (F.expr(b) < SPLIT_BAL_BUCKETS - 2).alias("is_train"),
    )
    g = d.agg(
        F.sum(F.col("is_train").cast("long")).cast("long").alias("n1"),
        F.sum((~F.col("is_train")).cast("long")).cast("long").alias("n2"),
        F.sum(F.when(F.col("is_train"), F.col("nc")).otherwise(0))
        .cast("long")
        .alias("sc1"),
        F.sum(F.when(~F.col("is_train"), F.col("nc")).otherwise(0))
        .cast("long")
        .alias("sc2"),
        F.sum(F.when(F.col("is_train"), F.col("nw")).otherwise(0))
        .cast("long")
        .alias("sw1"),
        F.sum(F.when(~F.col("is_train"), F.col("nw")).otherwise(0))
        .cast("long")
        .alias("sw2"),
    ).localCheckpoint(eager=True)

    def mean_gap(s1: str, s2: str, name: str) -> DataFrame:
        return g.select(
            F.lit(name).alias("covariate"),
            F.col("n1").alias("n_train"),
            F.col("n2").alias("n_eval"),
            F.expr(
                rat_round6_spark(f"abs({s1} * n2 - {s2} * n1)", "n1 * n2")
            ).alias("value_r6"),
        )

    def mix_tv(cat: str, name: str) -> DataFrame:
        cells = d.groupBy(cat).agg(
            F.sum(F.col("is_train").cast("long")).cast("long").alias("x"),
            F.sum((~F.col("is_train")).cast("long")).cast("long").alias("y"),
        )
        return (
            cells.crossJoin(F.broadcast(g.select("n1", "n2")))
            .agg(
                F.sum(F.expr("abs(x * n2 - y * n1)"))
                .cast("long")
                .alias("snum"),
                F.min("n1").alias("n1"),
                F.min("n2").alias("n2"),
            )
            .select(
                F.lit(name).alias("covariate"),
                F.col("n1").alias("n_train"),
                F.col("n2").alias("n_eval"),
                F.expr(rat_round6_spark("snum", "2 * n1 * n2")).alias(
                    "value_r6"
                ),
            )
        )

    return (
        mean_gap("sc1", "sc2", "n_chars_mean_absdiff")
        .unionByName(mean_gap("sw1", "sw2", "n_words_mean_absdiff"))
        .unionByName(mix_tv("lang", "lang_mix_tv"))
        .unionByName(mix_tv("source", "source_mix_tv"))
        .orderBy("covariate")
    )


_SPLIT_BAL_B_DUCK = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)"
    f" % {SPLIT_BAL_BUCKETS}"
)

ORACLE_SPLIT_BALANCE = f"""
WITH d AS (
  SELECT source, lang, CAST(n_chars AS BIGINT) AS nc,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
         ({_SPLIT_BAL_B_DUCK}) < {SPLIT_BAL_BUCKETS - 2} AS is_train
  FROM documents),
g AS (
  SELECT CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN is_train THEN nc ELSE 0 END) AS BIGINT) AS sc1,
         CAST(SUM(CASE WHEN is_train THEN 0 ELSE nc END) AS BIGINT) AS sc2,
         CAST(SUM(CASE WHEN is_train THEN nw ELSE 0 END) AS BIGINT) AS sw1,
         CAST(SUM(CASE WHEN is_train THEN 0 ELSE nw END) AS BIGINT) AS sw2
  FROM d),
lang_c AS (
  SELECT CAST(SUM(ABS(x * n2 - y * n1)) AS BIGINT) AS snum
  FROM (SELECT lang,
               CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                 AS x,
               CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
                 AS y
        FROM d GROUP BY 1), g),
src_c AS (
  SELECT CAST(SUM(ABS(x * n2 - y * n1)) AS BIGINT) AS snum
  FROM (SELECT source,
               CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                 AS x,
               CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
                 AS y
        FROM d GROUP BY 1), g)
SELECT * FROM (
  SELECT 'n_chars_mean_absdiff' AS covariate, n1 AS n_train, n2 AS n_eval,
         {rat_round6_duck('abs(sc1 * n2 - sc2 * n1)', 'n1 * n2')}
           AS value_r6
  FROM g
  UNION ALL
  SELECT 'n_words_mean_absdiff', n1, n2,
         {rat_round6_duck('abs(sw1 * n2 - sw2 * n1)', 'n1 * n2')}
  FROM g
  UNION ALL
  SELECT 'lang_mix_tv', n1, n2,
         {rat_round6_duck('lang_c.snum', '2 * n1 * n2')}
  FROM g, lang_c
  UNION ALL
  SELECT 'source_mix_tv', n1, n2,
         {rat_round6_duck('src_c.snum', '2 * n1 * n2')}
  FROM g, src_c)
ORDER BY covariate
"""


# --------------------------------------------------------------------------
# SimHash bit-bias audit
# --------------------------------------------------------------------------


def dedup_simhash_bit_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit one-rate of the corpus SimHash fingerprints — the
    governance audit for every SimHash-banded op (the fingerprint
    analogue of stats_hash_split_fairness): a healthy 60-bit SimHash
    over diverse text has every bit near 50 % ones; a stuck or heavily
    biased bit collapses band entropy and floods those buckets with
    false candidates. Emits, per bit, the one-count, the one-rate, and
    the χ²(1) lane statistic (2·ones − n)²/n — all on the ONE shared
    signature expression (dedup.SIMHASH_SIG_SQL), so the audit sees
    exactly the production fingerprints.

    Scale: the signature is the same map-side HOF pass dedup_simhash
    runs; the ×60 bit explode happens AFTER the per-doc reduction to
    one bigint, and the rollup is 60-row bounded."""
    from .dedup import SIMHASH_BITS, SIMHASH_SIG_SQL

    docs = catalog.load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    sig = docs.select(F.expr(SIMHASH_SIG_SQL).alias("simhash"))
    bits = sig.select(
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias(
            "bit"
        ),
    ).select("bit", F.expr("(simhash >> bit) & 1").alias("b"))
    return (
        bits.groupBy("bit")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("b").cast("long").alias("n_ones"),
        )
        .select(
            F.col("bit").cast("int").alias("bit"),
            "n_docs",
            "n_ones",
            F.expr(rat_round6_spark("n_ones", "n_docs")).alias(
                "one_rate_r6"
            ),
            F.expr(
                rat_round6_spark(
                    "(2 * n_ones - n_docs) * (2 * n_ones - n_docs)",
                    "n_docs",
                )
            ).alias("chi2_lane_r6"),
        )
        .orderBy("bit")
    )


def _simhash_bias_oracle() -> str:
    from .dedup import SIMHASH_BITS, SIMHASH_SIG_CTES

    return f"""
WITH {SIMHASH_SIG_CTES},
bb AS (
  SELECT u.i AS bit, (simhash >> u.i) & 1 AS b
  FROM sig, LATERAL unnest(range(0, {SIMHASH_BITS})) AS u(i)),
g AS (
  SELECT bit, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(b) AS BIGINT) AS n_ones
  FROM bb GROUP BY 1)
SELECT CAST(bit AS INT) AS bit, n_docs, n_ones,
       {rat_round6_duck('n_ones', 'n_docs')} AS one_rate_r6,
       {rat_round6_duck('(2 * n_ones - n_docs) * (2 * n_ones - n_docs)',
                        'n_docs')} AS chi2_lane_r6
FROM g ORDER BY bit
"""


# --------------------------------------------------------------------------
# Byte-band χ² uniformity
# --------------------------------------------------------------------------

CHI2_15_A001_X10 = 377  # χ²(df=15) upper 0.1% critical value 37.697,
# compared at one decimal by integer cross-multiplication (a text
# payload is decisively non-uniform; ciphertext/compressed assets pass).


def mm_payload_chi2_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² uniformity of the 16-band byte distribution per media type —
    the one-number "is this payload population ciphertext/compressed
    or structured?" verdict on top of mm_payload_byte_histogram's
    bands (same shared banding machinery, so the audit sees exactly
    the histogram's bytes). Missing bands count as zero cells (a text
    payload never reaches bands 8–15 — exactly the signal).

    χ² = Σ_b (16·n_b − N)² / (16·N) over the dense 16-cell grid —
    integer numerator, one qrem readout; the α=0.001 verdict is an
    integer cross-product against the one-decimal critical value.

    Scale: inherits the histogram's bounded (type × 16) rollup; the
    dense grid is a broadcast cross join of the type alphabet."""
    from .multimodal import payload_byte_bands, project_assets

    assets = project_assets(
        catalog.load(spark, sf_dir, "documents")
    ).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    h = (
        payload_byte_bands(assets)
        .groupBy("media_type", "band")
        .agg(F.count("*").cast("long").alias("n_b"))
    )
    grid = (
        h.select("media_type")
        .distinct()
        .crossJoin(
            spark.range(16).select(F.col("id").cast("int").alias("band"))
        )
    )
    dense = grid.join(h, ["media_type", "band"], "left").select(
        "media_type",
        "band",
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
    )
    tot = dense.groupBy("media_type").agg(
        F.sum("n_b").cast("long").alias("n_bytes")
    )
    return (
        dense.join(tot, "media_type")
        .groupBy("media_type")
        .agg(
            F.min("n_bytes").alias("n_bytes"),
            F.sum(
                F.expr("(16 * n_b - n_bytes) * (16 * n_b - n_bytes)")
            )
            .cast("long")
            .alias("num"),
        )
        .select(
            "media_type",
            "n_bytes",
            F.lit(15).cast("int").alias("df"),
            F.expr(qrem_round6_spark("num", "16 * n_bytes")).alias(
                "chi2_r6"
            ),
            F.expr(
                f"num * 10 <= {CHI2_15_A001_X10} * 16 * n_bytes"
            ).alias("is_uniform_a001"),
        )
        .orderBy("media_type")
    )


ORACLE_CHI2_UNIFORMITY = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents),
b AS (
  SELECT media_type,
         CAST('0x' || substr(hx, 2 * i - 1, 2) AS INT) // 16 AS band
  FROM a, LATERAL unnest(generate_series(1, n)) AS u(i)),
h AS (
  SELECT media_type, band, CAST(COUNT(*) AS BIGINT) AS n_b
  FROM b GROUP BY 1, 2),
grid AS (
  SELECT t.media_type, g.band
  FROM (SELECT DISTINCT media_type FROM h) t
  CROSS JOIN (SELECT CAST(unnest(range(16)) AS INT) AS band) g),
dense AS (
  SELECT grid.media_type, grid.band,
         CAST(COALESCE(h.n_b, 0) AS BIGINT) AS n_b
  FROM grid LEFT JOIN h
    ON grid.media_type = h.media_type AND grid.band = h.band),
tot AS (
  SELECT media_type, CAST(SUM(n_b) AS BIGINT) AS n_bytes
  FROM dense GROUP BY 1),
agg AS (
  SELECT d.media_type, CAST(MIN(t.n_bytes) AS BIGINT) AS n_bytes,
         CAST(SUM((16 * d.n_b - t.n_bytes) * (16 * d.n_b - t.n_bytes))
              AS BIGINT) AS num
  FROM dense d JOIN tot t ON d.media_type = t.media_type
  GROUP BY 1)
SELECT media_type, n_bytes, CAST(15 AS INT) AS df,
       {qrem_round6_duck('num', '16 * n_bytes')} AS chi2_r6,
       (num * 10 <= {CHI2_15_A001_X10} * 16 * n_bytes)
         AS is_uniform_a001
FROM agg ORDER BY media_type
"""


# --------------------------------------------------------------------------
# Friedman rank test: event types blocked by day
# --------------------------------------------------------------------------


def stats_friedman_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test — "do the event types differ in daily value
    once each day is its own block?" — the nonparametric repeated-
    measures companion to the Kruskal–Wallis op: within each day,
    types are ranked by their exact decimal value sum (average ranks
    on ties: r₂ = 2·RANK + ties − 1, an integer lane equal to twice
    the average rank), and χ²_F = 12·ΣR_j²/(nk(k+1)) − 3n(k+1)
    reduces to the single exact rational (3·Σr₂ₛᵤₘ² − 3n²k(k+1)²) /
    (nk(k+1)). Missing (day, type) cells enter as zero-sum cells (the
    dense grid is what makes blocks complete).

    Scale: one (day × type) aggregate with decimal map-side partials;
    every later frame is calendar×alphabet-bounded, including the
    in-day ranking windows."""
    return assemble_friedman(
        friedman_grain(catalog.load(spark, sf_dir, "events"))
    )


def friedman_grain(events: DataFrame) -> DataFrame:
    """The (day, event_type, s) exact-decimal cells, shared by the batch
    op and streaming/jobs.run_friedman_stream."""
    ev = events.select(
        F.expr(f"({_US}) div {_DAY_US}").alias("day"),
        "event_type",
        "value",
    )
    return ev.groupBy("day", "event_type").agg(
        F.sum(F.col("value").cast("decimal(25,6)")).alias("s")
    )


def assemble_friedman(cells: DataFrame) -> DataFrame:
    """Friedman readout over the (day, event_type, s) DECIMAL cell frame
    — the shared contract between the batch op and
    streaming/jobs.run_friedman_stream (calendar×alphabet-bounded
    state), so the batch oracle transitively gates the stream."""
    cells = cells.localCheckpoint(eager=True)  # feeds grid + rank + nk
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(cells, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(
                "s", F.lit(0).cast("decimal(25,6)")
            ).alias("s"),
        )
    )
    r2 = dense.select(
        "day",
        "event_type",
        (
            F.rank().over(W.partitionBy("day").orderBy("s")) * 2
            + F.count("*").over(W.partitionBy("day", "s"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    rs = r2.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("rsum2")
    )
    nk = days.agg(F.count("*").cast("long").alias("n")).crossJoin(
        types.agg(F.count("*").cast("long").alias("k"))
    )
    stat = (
        rs.agg(F.sum(F.expr("rsum2 * rsum2")).cast("long").alias("ss"))
        .crossJoin(F.broadcast(nk))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("n_types"),
            F.expr(
                rat_round6_spark(
                    "3 * ss - 3 * n * n * k * (k + 1) * (k + 1)",
                    "n * k * (k + 1)",
                )
            ).alias("friedman_chi2_r6"),
        )
    )
    top = (
        rs.withColumn(
            "rn",
            F.row_number().over(
                W.orderBy(F.desc("rsum2"), F.asc("event_type"))
            ),
        )
        .filter("rn = 1")
        .select(F.col("event_type").alias("top_type"))
    )
    bot = (
        rs.withColumn(
            "rn",
            F.row_number().over(
                W.orderBy(F.asc("rsum2"), F.asc("event_type"))
            ),
        )
        .filter("rn = 1")
        .select(F.col("event_type").alias("bottom_type"))
    )
    return stat.crossJoin(F.broadcast(top)).crossJoin(F.broadcast(bot))


ORACLE_FRIEDMAN = f"""
WITH ev AS (
  SELECT ({_US_DUCK}) // {_DAY_US} AS day, event_type, value FROM events),
cells AS (
  SELECT day, event_type, SUM(CAST(value AS DECIMAL(25,6))) AS s
  FROM ev GROUP BY 1, 2),
dense AS (
  SELECT d.day, t.event_type,
         COALESCE(c.s, CAST(0 AS DECIMAL(25,6))) AS s
  FROM (SELECT DISTINCT day FROM cells) d
  CROSS JOIN (SELECT DISTINCT event_type FROM cells) t
  LEFT JOIN cells c ON c.day = d.day AND c.event_type = t.event_type),
r2 AS (
  SELECT day, event_type,
         CAST(RANK() OVER (PARTITION BY day ORDER BY s) * 2
              + COUNT(*) OVER (PARTITION BY day, s) - 1 AS BIGINT) AS r2
  FROM dense),
rs AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS rsum2
  FROM r2 GROUP BY 1),
nk AS (
  SELECT CAST((SELECT COUNT(DISTINCT day) FROM cells) AS BIGINT) AS n,
         CAST((SELECT COUNT(DISTINCT event_type) FROM cells) AS BIGINT)
           AS k),
stat AS (
  SELECT nk.n AS n_days, nk.k AS n_types,
         {rat_round6_duck(
             '3 * ss - 3 * n * n * k * (k + 1) * (k + 1)',
             'n * k * (k + 1)')} AS friedman_chi2_r6
  FROM (SELECT CAST(SUM(rsum2 * rsum2) AS BIGINT) AS ss FROM rs), nk),
top AS (
  SELECT event_type AS top_type FROM rs
  ORDER BY rsum2 DESC, event_type LIMIT 1),
bot AS (
  SELECT event_type AS bottom_type FROM rs
  ORDER BY rsum2 ASC, event_type LIMIT 1)
SELECT stat.*, top.top_type, bot.bottom_type FROM stat, top, bot
"""


# --------------------------------------------------------------------------
# Pairwise Jensen–Shannon divergence between source unigram mixes
# --------------------------------------------------------------------------

JSD_TOP_V = 500  # same top-V vocabulary cap as text_source_kl: bounded,
# and every mixture m = (p+q)/2 is > 0 wherever either side is.


def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source unigram
    distributions on the corpus top-{JSD_TOP_V} vocabulary — the
    SYMMETRIC, bounded domain-distance matrix (text_source_kl measures
    each source against the corpus blend; JSD measures sources against
    EACH OTHER, the input a domain-mix planner clusters on). Emitted
    in nats and bits (ln 2 as a shared literal, no engine log2).

    Float policy mirrors text_source_kl exactly: p·ln(p/m) terms in
    IEEE double, zero-count terms excluded by CASE (0·ln 0 := 0), one
    ROUND(…, 6) readout.

    Scale: one (source, term) shuffle, then every frame is bounded by
    |sources| × top-V; the pair expansion is |sources|²·V/2 rows —
    catalog-bounded, never corpus-bounded."""
    docs = catalog.load(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    vocab = (
        st.groupBy("t")
        .agg(F.sum("c").alias("cc"))
        .orderBy(F.desc("cc"), F.asc("t"))
        .limit(JSD_TOP_V)
        .select("t")
    )
    stv = st.join(F.broadcast(vocab), "t")
    tots = stv.groupBy("source").agg(F.sum("c").cast("long").alias("tot"))
    dense = (
        tots.crossJoin(F.broadcast(vocab))
        .join(stv, ["source", "t"], "left")
        .select(
            "source",
            "t",
            "tot",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
        .localCheckpoint(eager=True)  # both sides of the pair join
    )
    a = dense.select(
        F.col("source").alias("source_a"),
        "t",
        F.col("c").alias("ca"),
        F.col("tot").alias("ta"),
    )
    b = dense.select(
        F.col("source").alias("source_b"),
        "t",
        F.col("c").alias("cb"),
        F.col("tot").alias("tb"),
    )
    pairs = a.join(b, "t").filter(F.col("source_a") < F.col("source_b"))
    term = (
        "case when ca = 0 then 0.0 else (ca / cast(ta as double))"
        " * ln((ca / cast(ta as double)) / (((ca / cast(ta as double))"
        " + (cb / cast(tb as double))) / 2)) end"
        " + case when cb = 0 then 0.0 else (cb / cast(tb as double))"
        " * ln((cb / cast(tb as double)) / (((ca / cast(ta as double))"
        " + (cb / cast(tb as double))) / 2)) end"
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.sum((F.col("ca") > 0).cast("long") * (F.col("cb") > 0).cast("long"))
            .cast("long")
            .alias("n_shared_terms"),
            F.round(F.sum(F.expr(term)) / 2, 6).alias("jsd_nats_r6"),
            F.round(
                F.sum(F.expr(term)) / 2 / F.lit(0.6931471805599453), 6
            ).alias("jsd_bits_r6"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE_JSD = f"""
WITH st AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY 1, 2),
vocab AS (
  SELECT t FROM (SELECT t, SUM(c) AS cc FROM st GROUP BY t
                 ORDER BY SUM(c) DESC, t ASC LIMIT {JSD_TOP_V})),
stv AS (SELECT st.source, st.t, st.c FROM st JOIN vocab USING (t)),
tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
         FROM stv GROUP BY source),
dense AS (
  SELECT tots.source, vocab.t, tots.tot,
         CAST(COALESCE(stv.c, 0) AS BIGINT) AS c
  FROM tots CROSS JOIN vocab
  LEFT JOIN stv ON stv.source = tots.source AND stv.t = vocab.t),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.c AS ca, a.tot AS ta, b.c AS cb, b.tot AS tb
  FROM dense a JOIN dense b ON a.t = b.t AND a.source < b.source)
SELECT source_a, source_b,
       CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_terms,
       ROUND(SUM(
         CASE WHEN ca = 0 THEN 0.0 ELSE (ca / CAST(ta AS DOUBLE))
           * ln((ca / CAST(ta AS DOUBLE)) / (((ca / CAST(ta AS DOUBLE))
             + (cb / CAST(tb AS DOUBLE))) / 2)) END
         + CASE WHEN cb = 0 THEN 0.0 ELSE (cb / CAST(tb AS DOUBLE))
           * ln((cb / CAST(tb AS DOUBLE)) / (((ca / CAST(ta AS DOUBLE))
             + (cb / CAST(tb AS DOUBLE))) / 2)) END) / 2, 6)
         AS jsd_nats_r6,
       ROUND(SUM(
         CASE WHEN ca = 0 THEN 0.0 ELSE (ca / CAST(ta AS DOUBLE))
           * ln((ca / CAST(ta AS DOUBLE)) / (((ca / CAST(ta AS DOUBLE))
             + (cb / CAST(tb AS DOUBLE))) / 2)) END
         + CASE WHEN cb = 0 THEN 0.0 ELSE (cb / CAST(tb AS DOUBLE))
           * ln((cb / CAST(tb AS DOUBLE)) / (((ca / CAST(ta AS DOUBLE))
             + (cb / CAST(tb AS DOUBLE))) / 2)) END) / 2
         / 0.6931471805599453, 6) AS jsd_bits_r6
FROM pairs GROUP BY 1, 2 ORDER BY source_a, source_b
"""


# ==========================================================================
# Batch U
# ==========================================================================

# --------------------------------------------------------------------------
# Conditional byte entropy per media type
# --------------------------------------------------------------------------


def mm_byte_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 predictability of the payload byte stream per media
    type: unigram entropy H(X), bigram entropy H(X,Y) and the
    conditional entropy H(Y|X) = H(X,Y) − H(X) — the one-number
    "structured vs ciphertext" verdict the bigram TOP-K
    (mm_byte_bigram_topk) ranks but never summarizes. Text payloads
    show H(Y|X) well below H(X) (letters predict successors);
    compressed/encrypted payloads sit near ln 256 on both.

    Entropy lanes follow the house ``n·ln n`` 9dp-decimal-sum pattern
    (ev_transition_entropy): each count contribution is rounded at
    9dp, summed exactly as DECIMAL, one double division per readout.
    H(X) is measured on the bigram sample's first byte (the proper
    conditioning marginal), so H(Y|X) ≥ 0 exactly.

    Scale: hex-pair slide map-side; rollups bounded by
    (type × 65536) bigram cells."""
    from .multimodal import project_assets

    assets = project_assets(
        catalog.load(spark, sf_dir, "documents")
    ).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    base = assets.select(
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    ).filter(F.col("n") >= 2)
    bg = base.select(
        "media_type",
        F.explode(
            F.expr(
                "transform(sequence(1, n - 1), i ->"
                " substring(hx, 2 * i - 1, 4))"
            )
        ).alias("bg"),
    ).select("media_type", "bg", F.expr("substring(bg, 1, 2)").alias("px"))
    bgc = bg.groupBy("media_type", "bg").agg(F.count("*").alias("n"))
    pxc = bg.groupBy("media_type", "px").agg(F.count("*").alias("n"))

    def h_parts(cnt: DataFrame, s_alias: str) -> DataFrame:
        return cnt.groupBy("media_type").agg(
            F.sum("n").cast("long").alias(f"{s_alias}_tot"),
            F.sum(
                F.round(F.col("n") * F.log("n"), 9).cast("decimal(25,9)")
            ).alias(f"{s_alias}_s"),
        )

    hb = h_parts(bgc, "b")
    hp = h_parts(pxc, "p")
    raw_b = (
        "round(ln(b_tot), 9) - cast(b_s as double) / b_tot"
    )
    raw_p = "round(ln(p_tot), 9) - cast(p_s as double) / p_tot"
    return (
        hb.join(hp, "media_type")
        .select(
            "media_type",
            F.col("b_tot").alias("n_bigrams"),
            F.expr(f"round({raw_p}, 6)").alias("h_prefix_r6"),
            F.expr(f"round({raw_b}, 6)").alias("h_bigram_r6"),
            F.expr(f"round(({raw_b}) - ({raw_p}), 6)").alias("h_cond_r6"),
        )
        .orderBy("media_type")
    )


ORACLE_BYTE_COND_ENTROPY = """
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 2),
bg AS (
  SELECT media_type, substr(hx, 2 * i - 1, 4) AS bg,
         substr(hx, 2 * i - 1, 2) AS px
  FROM a, LATERAL unnest(generate_series(1, n - 1)) AS u(i)),
bgc AS (SELECT media_type, bg, COUNT(*) AS n FROM bg GROUP BY 1, 2),
pxc AS (SELECT media_type, px, COUNT(*) AS n FROM bg GROUP BY 1, 2),
hb AS (
  SELECT media_type, CAST(SUM(n) AS BIGINT) AS b_tot,
         SUM(CAST(ROUND(n * ln(n), 9) AS DECIMAL(25,9))) AS b_s
  FROM bgc GROUP BY 1),
hp AS (
  SELECT media_type, CAST(SUM(n) AS BIGINT) AS p_tot,
         SUM(CAST(ROUND(n * ln(n), 9) AS DECIMAL(25,9))) AS p_s
  FROM pxc GROUP BY 1)
SELECT hb.media_type, hb.b_tot AS n_bigrams,
       ROUND(ROUND(ln(p_tot), 9) - CAST(p_s AS DOUBLE) / p_tot, 6)
         AS h_prefix_r6,
       ROUND(ROUND(ln(b_tot), 9) - CAST(b_s AS DOUBLE) / b_tot, 6)
         AS h_bigram_r6,
       ROUND((ROUND(ln(b_tot), 9) - CAST(b_s AS DOUBLE) / b_tot)
             - (ROUND(ln(p_tot), 9) - CAST(p_s AS DOUBLE) / p_tot), 6)
         AS h_cond_r6
FROM hb JOIN hp ON hb.media_type = hp.media_type
ORDER BY hb.media_type
"""


# --------------------------------------------------------------------------
# Burrows' delta stylometry between sources
# --------------------------------------------------------------------------

BURROWS_K = 30  # the classic "most frequent function words" cap


def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' delta between every source pair: relative frequencies
    of the corpus top-{BURROWS_K} words, z-scored across sources, and
    delta = mean |z_a − z_b| — the stylometric distance that attributes
    provenance from FUNCTION-word usage where the JSD matrix
    (text_js_divergence_sources) sees topical mix.

    Exactness: frequencies quantize half-up to an integer ppm grid
    (the documented spec — stylometric freqs live at 1e-3..1e-1, so
    ppm granularity is far below signal); per-term z denominators are
    the EXACT integer D = S·Σp² − (Σp)², whose IEEE sqrt is correctly
    rounded and identical cross-engine; per-term |z_a − z_b| rounds at
    9dp into an exact decimal sum. Terms with D = 0 (no cross-source
    variance) carry no signal and are excluded; n_terms_used reports
    the effective K.

    Scale: one (source, term) shuffle; every later frame is bounded by
    |sources| × K; the pair expansion is catalog-bounded."""
    docs = catalog.load(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)  # feeds vocab, totals and dense grid
    )
    vocab = (
        st.groupBy("t")
        .agg(F.sum("c").alias("cc"))
        .orderBy(F.desc("cc"), F.asc("t"))
        .limit(BURROWS_K)
        .select("t")
    )
    tots = st.groupBy("source").agg(F.sum("c").cast("long").alias("tot"))
    dense = (
        tots.crossJoin(F.broadcast(vocab))
        .join(st, ["source", "t"], "left")
        .select(
            "source",
            "t",
            F.expr(
                "(coalesce(c, 0) * 2000000 + tot) div (2 * tot)"
            ).alias("p"),
        )
    )
    term_stats = dense.groupBy("t").agg(
        F.count("*").cast("long").alias("s_cnt"),
        F.sum("p").cast("long").alias("sp"),
        F.sum(F.expr("p * p")).cast("long").alias("sp2"),
    ).select(
        "t",
        "s_cnt",
        "sp",
        F.expr("s_cnt * sp2 - sp * sp").alias("d"),
    )
    zd = (
        dense.join(F.broadcast(term_stats), "t")
        .filter(F.col("d") > 0)
        .select(
            "source",
            "t",
            F.expr(
                "cast(s_cnt as double) * cast(p as double)"
                " / sqrt(cast(d as double))"
            ).alias("z_scaled"),
        )
        .localCheckpoint(eager=True)  # both sides of the pair join
    )
    a = zd.select(
        F.col("source").alias("source_a"), "t", F.col("z_scaled").alias("za")
    )
    b = zd.select(
        F.col("source").alias("source_b"), "t", F.col("z_scaled").alias("zb")
    )
    return (
        a.join(b, "t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_terms_used"),
            (
                F.sum(
                    F.round(F.expr("abs(za - zb)"), 9).cast(
                        "decimal(25,9)"
                    )
                ).cast("double")
                / F.count("*")
            ).alias("raw"),
        )
        .select(
            "source_a",
            "source_b",
            "n_terms_used",
            F.round("raw", 6).alias("delta_r6"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE_BURROWS = f"""
WITH st AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY 1, 2),
vocab AS (
  SELECT t FROM (SELECT t, SUM(c) AS cc FROM st GROUP BY t
                 ORDER BY SUM(c) DESC, t ASC LIMIT {BURROWS_K})),
tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
         FROM st GROUP BY source),
dense AS (
  SELECT tots.source, vocab.t,
         (COALESCE(st.c, 0) * 2000000 + tots.tot) // (2 * tots.tot) AS p
  FROM tots CROSS JOIN vocab
  LEFT JOIN st ON st.source = tots.source AND st.t = vocab.t),
ts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS s_cnt,
         CAST(SUM(p) AS BIGINT) AS sp,
         CAST(COUNT(*) AS BIGINT) * CAST(SUM(p * p) AS BIGINT)
           - CAST(SUM(p) AS BIGINT) * CAST(SUM(p) AS BIGINT) AS d
  FROM dense GROUP BY 1),
zd AS (
  SELECT dense.source, dense.t,
         CAST(ts.s_cnt AS DOUBLE) * CAST(dense.p AS DOUBLE)
           / sqrt(CAST(ts.d AS DOUBLE)) AS z_scaled
  FROM dense JOIN ts ON dense.t = ts.t WHERE ts.d > 0)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_terms_used,
       ROUND(CAST(SUM(CAST(ROUND(abs(a.z_scaled - b.z_scaled), 9)
                           AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*), 6)
         AS delta_r6
FROM zd a JOIN zd b ON a.t = b.t AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


# --------------------------------------------------------------------------
# Hurst exponent via the variance-time plot
# --------------------------------------------------------------------------

HURST_SCALES = (1, 2, 4, 8)  # dyadic block sizes (days); the OLS x-grid
# ln m is then {0, ln2, 2ln2, 3ln2} with centered weights (-1.5 .. 1.5)
# and Σ(x-x̄)² = 5·(ln2)² — embedded as exact literals.
_LN2 = 0.6931471805599453


def ev_hurst_variance_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event volume by the variance-time
    plot: daily counts are aggregated into dyadic blocks of
    {HURST_SCALES} days, the variance of block MEANS follows
    Var(m) ∝ m^(2H−2) for a self-similar series, and the OLS slope of
    ln Var over ln m gives H = 1 + slope/2 — the long-memory probe
    capacity planning needs beyond lag autocorrelation (H ≈ 0.5 ⇒
    independence; H → 1 ⇒ bursts aggregate away slowly and peak
    provisioning must follow).

    Exactness: block sums are integers; Var(m) is the exact rational
    (B·ΣS² − (ΣS)²)/(m²B²); ln Var = ln(num) − ln(den) on exact
    integers; the 4-point OLS contracts to Σ w_i·y_i/(5·ln 2) with
    literal centered weights, each product rounded at 9dp into an
    exact decimal sum. Incomplete blocks are dropped (block days
    present must equal m); a degenerate scale (zero variance or < 2
    blocks) nulls the readout rather than biasing it.

    Scale: one day-grain aggregate of the fact stream; everything
    after is ≤ span/m rows per scale — calendar-bounded."""
    return assemble_hurst(hurst_grain(catalog.load(spark, sf_dir, "events")))


def hurst_grain(events: DataFrame) -> DataFrame:
    """The (day, x) daily event counts, shared by the batch op and
    streaming/jobs.run_hurst_stream."""
    ev = events.select(F.expr(f"({_US}) div {_DAY_US}").alias("day"))
    return ev.groupBy("day").agg(F.count("*").cast("long").alias("x"))


def assemble_hurst(daily: DataFrame) -> DataFrame:
    """Variance-time Hurst readout over the (day, x) DAILY count frame
    — the shared contract between the batch op and
    streaming/jobs.run_hurst_stream (calendar-bounded state), so the
    batch DuckDB oracle transitively gates the stream."""
    daily = daily.localCheckpoint(eager=True)  # reused per scale
    per_scale = None
    for m in HURST_SCALES:
        blocks = (
            daily.groupBy(F.expr(f"day div {m}").alias("bid"))
            .agg(
                F.sum("x").cast("long").alias("sb"),
                F.count("*").cast("long").alias("nd"),
            )
            .filter(F.col("nd") == m)
        )
        row = blocks.agg(
            F.lit(m).cast("long").alias("block_days"),
            F.count("*").cast("long").alias("b"),
            F.sum("sb").cast("long").alias("s1"),
            F.sum(F.expr("sb * sb")).cast("long").alias("s2"),
        )
        per_scale = row if per_scale is None else per_scale.unionByName(row)
    scales = per_scale.select(
        "block_days",
        "b",
        F.expr("b * s2 - s1 * s1").alias("vnum"),
        F.expr("block_days * block_days * b * b").alias("vden"),
    ).filter(F.col("b") >= 2)
    w_expr = (
        "case block_days when 1 then -1.5 when 2 then -0.5"
        " when 4 then 0.5 else 1.5 end"
    )
    fit = (
        scales.filter(F.col("vnum") > 0)
        .select(
            F.expr(
                f"round(({w_expr}) * (ln(cast(vnum as double))"
                " - ln(cast(vden as double))), 9)"
            )
            .cast("decimal(25,9)")
            .alias("wy")
        )
        .agg(
            F.count("*").cast("long").alias("n_scales"),
            F.sum("wy").alias("swy"),
        )
    )
    return fit.select(
        "n_scales",
        F.expr(
            "case when n_scales = 4 then"
            f" round(cast(swy as double) / (5 * {_LN2!r}), 6)"
            " else cast(null as double) end"
        ).alias("slope_r6"),
        F.expr(
            "case when n_scales = 4 then"
            f" round(1 + cast(swy as double) / (5 * {_LN2!r}) / 2, 6)"
            " else cast(null as double) end"
        ).alias("hurst_r6"),
    )


ORACLE_HURST = f"""
WITH daily AS (
  SELECT ({_US_DUCK}) // {_DAY_US} AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
blocks AS (
  SELECT m, day // m AS bid, CAST(SUM(x) AS BIGINT) AS sb,
         CAST(COUNT(*) AS BIGINT) AS nd
  FROM daily, (SELECT unnest([{", ".join(str(m) for m in HURST_SCALES)}])
               AS m)
  GROUP BY 1, 2),
per_scale AS (
  SELECT m AS block_days, CAST(COUNT(*) AS BIGINT) AS b,
         CAST(SUM(sb) AS BIGINT) AS s1,
         CAST(SUM(sb * sb) AS BIGINT) AS s2
  FROM blocks WHERE nd = m GROUP BY 1),
scales AS (
  SELECT block_days, b, b * s2 - s1 * s1 AS vnum,
         block_days * block_days * b * b AS vden
  FROM per_scale WHERE b >= 2),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_scales,
         SUM(CAST(ROUND((CASE block_days WHEN 1 THEN -1.5
                          WHEN 2 THEN -0.5 WHEN 4 THEN 0.5
                          ELSE 1.5 END)
                        * (ln(CAST(vnum AS DOUBLE))
                           - ln(CAST(vden AS DOUBLE))), 9)
                  AS DECIMAL(25,9))) AS swy
  FROM scales WHERE vnum > 0)
SELECT n_scales,
       CASE WHEN n_scales = 4
            THEN ROUND(CAST(swy AS DOUBLE) / (5 * {_LN2!r}), 6)
            ELSE CAST(NULL AS DOUBLE) END AS slope_r6,
       CASE WHEN n_scales = 4
            THEN ROUND(1 + CAST(swy AS DOUBLE) / (5 * {_LN2!r}) / 2, 6)
            ELSE CAST(NULL AS DOUBLE) END AS hurst_r6
FROM fit
"""


# --------------------------------------------------------------------------
# MinHash permutation-count sweep
# --------------------------------------------------------------------------

PERM_SWEEP = (16, 32, 64)  # signature lengths; rows-per-band fixed at
# the production 4 → bands = p/4. The MinHash permutation family is
# arithmetic in the permutation index, so each swept signature is a
# PREFIX of the production 100-perm signature — computed once, sliced.


def dedup_minhash_perm_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERMUTATION axis of the MinHash tuning plane: at the
    production rows-per-band (4), how do 16/32/64-permutation
    signatures trade candidate cost against recall?
    dedup_lsh_band_planner sweeps (bands × rows) at fixed 100 perms
    and dedup_shingle_size_sweep the shingle-n axis; this closes the
    third axis — signature memory/compute. Per config: multi-occupancy
    buckets, candidate pairs with and without bucket dedup, the
    exact-Jaccard-verified count at the production τ, precision, and
    recall against the union-verified reference set (the planner's
    documented truth convention: pairs no swept config can see are
    invisible to all of them by construction).

    Scale: as the planner's kernel, ``dedup._band_sweep``. Degenerate
    configs (zero candidates) emit NULL precision rather than tripping
    ANSI division."""
    from .dedup import MINHASH_R, _band_sweep

    configs = [(p // MINHASH_R, MINHASH_R) for p in PERM_SWEEP]
    return (
        _band_sweep(spark, sf_dir, configs)
        .select(
            (F.col("bands") * F.col("rpb")).cast("long").alias("num_perm"),
            F.col("bands").cast("long").alias("bands"),
            "n_buckets_multi",
            "cand_pairs_total",
            F.col("cand_pairs_distinct").alias("n_candidates"),
            "n_verified",
            F.expr(
                "case when cand_pairs_distinct = 0"
                " then cast(null as double) else "
                + rat_round6_spark("n_verified", "cand_pairs_distinct")
                + " end"
            ).alias("precision_r6"),
            F.expr(
                "case when truth_n = 0 then cast(null as double) else "
                + rat_round6_spark("n_verified", "truth_n")
                + " end"
            ).alias("recall_vs_union_r6"),
        )
        .orderBy("num_perm")
    )


def _perm_sweep_oracle() -> str:
    from .dedup import _DUCK_SHINGLES, MINHASH_R, MINHASH_TAU
    from ..functions.hashing import sql_minhash_signature_duck

    return f"""
WITH shl AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id, shingles,
         {sql_minhash_signature_duck('shingles', max(PERM_SWEEP))} AS sig
  FROM shl),
cfg AS (SELECT CAST(unnest([{', '.join(str(p) for p in PERM_SWEEP)}])
               AS BIGINT) AS num_perm),
bands AS (
  SELECT s.doc_id, c.num_perm,
         b || ':' || array_to_string(
           sig[b * {MINHASH_R} + 1 : b * {MINHASH_R} + {MINHASH_R}], ',')
           AS band_key
  FROM sig s, cfg c,
       LATERAL unnest(range(0, c.num_perm // {MINHASH_R})) AS u(b)),
buckets AS (
  SELECT num_perm, band_key, COUNT(*) AS sz
  FROM bands GROUP BY 1, 2 HAVING COUNT(*) > 1),
totals AS (
  SELECT num_perm, CAST(COUNT(*) AS BIGINT) AS n_buckets_multi,
         CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs_total
  FROM buckets GROUP BY 1),
pairs AS (
  SELECT DISTINCT a.num_perm, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.num_perm = b.num_perm AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id),
uni AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
truth AS (
  SELECT u.doc_a, u.doc_b
  FROM uni u JOIN shl x ON u.doc_a = x.doc_id
             JOIN shl y ON u.doc_b = y.doc_id
  WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0
          / len(list_distinct(list_concat(x.shingles, y.shingles)))
        >= {MINHASH_TAU}),
tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_n FROM truth),
nc AS (SELECT num_perm, CAST(COUNT(*) AS BIGINT) AS n_candidates
       FROM pairs GROUP BY 1),
ver AS (
  SELECT p.num_perm, CAST(COUNT(*) AS BIGINT) AS n_verified
  FROM pairs p JOIN truth t
    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
  GROUP BY 1)
SELECT c.num_perm, c.num_perm // {MINHASH_R} AS bands,
       CAST(COALESCE(t.n_buckets_multi, 0) AS BIGINT) AS n_buckets_multi,
       CAST(COALESCE(t.cand_pairs_total, 0) AS BIGINT)
         AS cand_pairs_total,
       CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(ver.n_verified, 0) AS BIGINT) AS n_verified,
       CASE WHEN COALESCE(nc.n_candidates, 0) = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE {rat_round6_duck('COALESCE(ver.n_verified, 0)',
                                  'COALESCE(nc.n_candidates, 0)')}
       END AS precision_r6,
       CASE WHEN tn.truth_n = 0 THEN CAST(NULL AS DOUBLE)
            ELSE {rat_round6_duck('COALESCE(ver.n_verified, 0)',
                                  'tn.truth_n')}
       END AS recall_vs_union_r6
FROM cfg c
LEFT JOIN totals t ON c.num_perm = t.num_perm
LEFT JOIN nc ON c.num_perm = nc.num_perm
LEFT JOIN ver ON c.num_perm = ver.num_perm
CROSS JOIN tn
ORDER BY c.num_perm
"""


SPECS = [
    QuerySpec(
        "orders_littles_law_audit",
        orders_littles_law_audit,
        ORACLE_LITTLES_LAW,
        ("orders", "queueing", "audit"),
        doc="Little's law L = lambda*W per priority class with an "
            "independent bucket-spine expansion reconciling the moment "
            "arithmetic (exact epoch-day integers)",
    ),
    QuerySpec(
        "stats_nelson_aalen_interarrival",
        stats_nelson_aalen_interarrival,
        ORACLE_NELSON_AALEN,
        ("stats", "survival", "events"),
        doc="Nelson-Aalen cumulative hazard of next-event arrival over "
            "per-user inter-event gaps with right-censored final gaps; "
            "every hazard term an exact ppb integer",
    ),
    QuerySpec(
        "text_readability_grid",
        text_readability_grid,
        ORACLE_READABILITY,
        ("text", "quality", "readability"),
        doc="LIX/RIX readability grid per (source, lang), micro-averaged "
            "exact rationals via the qrem split",
    ),
    QuerySpec(
        "emb_triplet_margin_rate",
        emb_triplet_margin_rate,
        ORACLE_TRIPLET_MARGIN,
        ("embedding", "audit", "metric"),
        doc="md5-deterministic triplet margin satisfaction per label on "
            "the 2^-20 integer grid (do labels induce a metric margin?)",
    ),
    QuerySpec(
        "sketch_ams_f2_error",
        sketch_ams_f2_error,
        ORACLE_AMS_F2,
        ("sketch", "agg"),
        doc="AMS/Tug-of-War F2 sketch (16 md5 sign lanes) vs exact second "
            "moment with a Chebyshev 5-sigma band certificate",
    ),
    QuerySpec(
        "corpus_dedup_quality_shift",
        corpus_dedup_quality_shift,
        ORACLE_DEDUP_QUALITY_SHIFT,
        ("text", "dedup", "audit"),
        doc="per-source (lang x length-band) mix TV shift induced by "
            "global exact dedup, with survivor share and top-moving cell",
    ),
    # --- batch T ---
    QuerySpec(
        "orders_abc_migration",
        orders_abc_migration,
        ORACLE_ABC_MIGRATION,
        ("orders", "finance", "drift"),
        doc="YoY ABC-class migration matrix of parts by exact-cents "
            "revenue, with NEW/OUT lanes (integer cumshare boundaries)",
    ),
    QuerySpec(
        "split_covariate_balance",
        split_covariate_balance,
        ORACLE_SPLIT_BALANCE,
        ("stats", "governance", "pipeline"),
        doc="train/eval covariate balance of the md5 split: numeric "
            "mean gaps + lang/source mix TVs, exact rational lanes",
    ),
    QuerySpec(
        "dedup_simhash_bit_bias",
        dedup_simhash_bit_bias,
        _simhash_bias_oracle(),
        ("dedup", "audit", "governance"),
        doc="per-bit one-rate and chi2 lane audit of the production "
            "SimHash fingerprints (shared signature expression)",
    ),
    QuerySpec(
        "mm_payload_chi2_uniformity",
        mm_payload_chi2_uniformity,
        ORACLE_CHI2_UNIFORMITY,
        ("multimodal", "audit", "stats"),
        doc="byte-band chi2 vs uniform per media type on the shared "
            "16-band machinery, alpha=0.001 integer verdict",
    ),
    QuerySpec(
        "stats_friedman_daily_types",
        stats_friedman_daily_types,
        ORACLE_FRIEDMAN,
        ("stats", "events"),
        doc="Friedman rank test of event types blocked by day "
            "(average-rank ties, exact integer rank lanes)",
    ),
    QuerySpec(
        "text_js_divergence_sources",
        text_js_divergence_sources,
        ORACLE_JSD,
        ("text", "stats", "provenance"),
        doc="pairwise Jensen-Shannon divergence between source unigram "
            "mixes on the top-V vocabulary, nats + bits",
    ),
    # --- batch U ---
    QuerySpec(
        "mm_byte_cond_entropy",
        mm_byte_cond_entropy,
        ORACLE_BYTE_COND_ENTROPY,
        ("multimodal", "audit", "stats"),
        doc="unigram/bigram/conditional byte entropy per media type "
            "(structured-vs-ciphertext verdict, n*ln n decimal lanes)",
    ),
    QuerySpec(
        "text_burrows_delta",
        text_burrows_delta,
        ORACLE_BURROWS,
        ("text", "stats", "provenance"),
        doc="Burrows' delta stylometric distance between source pairs "
            "on top-30 function words (ppm z-lanes, exact integer D)",
    ),
    QuerySpec(
        "ev_hurst_variance_plot",
        ev_hurst_variance_plot,
        ORACLE_HURST,
        ("events", "stats", "capacity"),
        doc="Hurst exponent of daily volume via the dyadic variance-"
            "time plot (exact rational variances, literal OLS grid)",
    ),
    QuerySpec(
        "dedup_minhash_perm_sweep",
        dedup_minhash_perm_sweep,
        _perm_sweep_oracle(),
        ("dedup", "lsh", "tuning"),
        doc="MinHash permutation-count sweep (16/32/64 perms, prefix-"
            "sliced from the production signatures): candidate cost, "
            "precision and union-truth recall per signature length",
    ),
]


# ==========================================================================
# Batch V (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# Yule's characteristic K per source
# --------------------------------------------------------------------------


def text_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K — the classic vocabulary-richness
    statistic K = 10^4 * (S2 - S1) / S1^2 with S1 = total tokens and
    S2 = sum of squared type counts — per source. Unlike the type-token
    ratio (length-sensitive) or Heaps' fit (text_heaps_vocab_growth,
    growth-curve), K is a REPETITIVENESS constant: ~0 for near-unique
    vocab, large when a few types dominate. It is also 10^4 times the
    excess repeat-rate, so it pairs with the Zipf slope as a one-number
    style fingerprint per source.

    Exact: S1, S2 and the K numerator are pure BIGINT; the readout is
    the house half-up qrem split (valid while S1 <= ~2.1e6 tokens per
    source — the scaled remainder term stays under 2^63; sf0.1 is ~2e5,
    document the bound rather than widen the lane).

    Scale: one shuffle on (source, token) for the type counts, then a
    per-source rollup — both map-side combinable; no token ever crosses
    the wire twice."""
    docs = catalog.load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    wc = tok.groupBy("source", "t").agg(F.count("*").cast("long").alias("m"))
    a = wc.groupBy("source").agg(
        F.sum("m").cast("long").alias("s1"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.expr("m * m")).cast("long").alias("s2"),
    )
    k_r6 = qrem_round6_spark("10000 * (s2 - s1)", "s1 * s1")
    return a.select(
        "source",
        F.col("s1").alias("n_tokens"),
        "n_types",
        F.col("s2").alias("sum_m2"),
        F.expr(k_r6).alias("yules_k_r6"),
    ).orderBy("source")


ORACLE_YULES_K = f"""
WITH tok AS (
  SELECT source, t
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(t)
  WHERE t <> ''),
wc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS m FROM tok GROUP BY 1, 2),
a AS (
  SELECT source, CAST(SUM(m) AS BIGINT) AS s1,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(m * m) AS BIGINT) AS s2
  FROM wc GROUP BY 1)
SELECT source, s1 AS n_tokens, n_types, s2 AS sum_m2,
       {qrem_round6_duck('10000 * (s2 - s1)', 's1 * s1')} AS yules_k_r6
FROM a ORDER BY source
"""


# --------------------------------------------------------------------------
# Max drawdown of the daily value series
# --------------------------------------------------------------------------


def ev_max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the DAILY value-total series per event type:
    the deepest drop of a day's total below the running historical peak
    (finance's peak-to-trough statistic applied to revenue/load
    monitoring — "how far below the best day ever has this stream
    sunk, and when"). Complements ev_value_cusum_extrema (cumulative
    drift) with a peak-relative readout: a stream that doubles then
    halves has zero CUSUM alarm but a 50% drawdown.

    Per type: the running max of daily totals (exact micro-unit
    BIGINT), dd_t = runmax_t - day_t, the maximum dd, the EARLIEST day
    attaining it (deterministic tie-break), and the drawdown as a share
    of the peak (qrem rational).

    Exact: per-row values half-up to integer micros (one IEEE product,
    identical both engines), all sums/extrema on BIGINT.

    Scale: one shuffle to (type, day) grain — day-grain state is
    bounded by the calendar horizon, so the ordered window runs over
    ~30..3650 rows per type regardless of SF."""
    return assemble_max_drawdown(
        max_drawdown_grain(catalog.load(spark, sf_dir, "events"))
    )


def max_drawdown_grain(events: DataFrame) -> DataFrame:
    """The (event_type, day, dv) exact micro-unit daily totals, shared by
    the batch op and streaming/jobs.run_max_drawdown_stream."""
    ev = events.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("cast(floor(value * 1000000 + 0.5) as bigint)").alias("v_us"),
    )
    return ev.groupBy("event_type", "day").agg(
        F.sum("v_us").cast("long").alias("dv")
    )


def assemble_max_drawdown(daily: DataFrame) -> DataFrame:
    """Drawdown tail over the (event_type, day, dv) DAY-GRAIN frame —
    the shared contract between the batch op and its streaming twin
    (the run_error_rate_by_load_stream two-grain rule: the stream's
    complete-mode state is only this calendar-bounded daily ledger;
    every window below runs on ≤ feed-days rows per type)."""
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dd = daily.select(
        "event_type",
        "day",
        "dv",
        (F.max("dv").over(w) - F.col("dv")).alias("dd"),
    ).localCheckpoint(eager=True)  # day-grain (bounded); feeds the peak
    # rollup AND the trough re-join (also de-conflicts self-join refs
    # when the input is a streaming memory-sink table)
    per = dd.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("dv").alias("peak_us"),
        F.max("dd").alias("mdd_us"),
    )
    trough = (
        dd.join(per, "event_type")
        .filter(F.col("dd") == F.col("mdd_us"))
        .groupBy("event_type")
        .agg(F.min("day").alias("trough_day"))
    )
    share = qrem_round6_spark("mdd_us", "peak_us")
    return (
        per.join(trough, "event_type")
        .select(
            "event_type",
            "n_days",
            F.expr("cast(peak_us as double) / 1000000.0").alias(
                "peak_daily_r6"
            ),
            F.expr("cast(mdd_us as double) / 1000000.0").alias(
                "max_drawdown_r6"
            ),
            F.expr(share).alias("dd_peak_share_r6"),
            "trough_day",
        )
        .orderBy("event_type")
    )


ORACLE_MAX_DRAWDOWN = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS dv
  FROM events GROUP BY 1, 2),
dd AS (
  SELECT event_type, day, dv,
         MAX(dv) OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) - dv AS dd
  FROM daily),
per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         MAX(dv) AS peak_us, MAX(dd) AS mdd_us
  FROM dd GROUP BY 1),
trough AS (
  SELECT dd.event_type, MIN(day) AS trough_day
  FROM dd JOIN per ON dd.event_type = per.event_type AND dd.dd = per.mdd_us
  GROUP BY 1)
SELECT per.event_type, n_days,
       CAST(peak_us AS DOUBLE) / 1000000.0 AS peak_daily_r6,
       CAST(mdd_us AS DOUBLE) / 1000000.0 AS max_drawdown_r6,
       {qrem_round6_duck('mdd_us', 'peak_us')} AS dd_peak_share_r6,
       trough_day
FROM per JOIN trough ON per.event_type = trough.event_type
ORDER BY per.event_type
"""


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test on the daily count series
# --------------------------------------------------------------------------

LB_MAX_LAG = 7  # one week of daily lags

# chi-square 0.05 critical values for df = 1..7 (literal grid, both engines)
_LB_CRIT_CASE = (
    "case {k} when 1 then 3.841459 when 2 then 5.991465 when 3 then 7.814728"
    " when 4 then 9.487729 when 5 then 11.070498 when 6 then 12.591587"
    " when 7 then 14.067140 end"
)


def stats_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test of the daily event-count series: the
    autocorrelation at lags 1..{LB_MAX_LAG} on the zero-filled calendar
    spine and the cumulative Q_k = n(n+2)·Σ r_j²/(n−j), with the
    literal χ²(df=k, α=.05) critical-value lane and a reject flag.
    ev_autocorrelation reads single lags; this is the joint whiteness
    TEST — "is the daily series white noise at all lags up to a week".

    Exactness: counts are centered WITHOUT division — c_t = n·x_t − S
    is a pure BIGINT lane (r_k = N_k/D is invariant to the n² scaling)
    — so the only doubles are one division per lag, a 9dp-rounded term
    summed as DECIMAL across lags (exact, order-free), and one final
    product. D = 0 (constant series) reads NULL.

    Overflow: |c| ≤ n·max(x); D ≤ n³·var(x) — at 100× fixture volume
    D ~ 7e15 < 2⁶³, and the BIGINT→DOUBLE conversions round-to-nearest
    identically in both engines.

    Scale: everything after the (day)-grain shuffle is calendar-
    bounded (≤ ~3650 rows however large the feed)."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(F.expr(day).alias("d"))
    cnt = ev.groupBy("d").agg(F.count("*").cast("long").alias("x"))
    bounds = cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("d")
    ).join(cnt, "d", "left").select(
        "d", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    consts = spine.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    c = spine.crossJoin(F.broadcast(consts)).select(
        "d", F.expr("n * x - s").alias("c"), "n"
    ).localCheckpoint(eager=True)
    dsq = c.agg(F.sum(F.expr("c * c")).cast("long").alias("dd"))
    lags = spark.range(1, LB_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = c.select(F.col("d").alias("bd"), F.col("c").alias("bc"))
    nk = (
        c.crossJoin(F.broadcast(lags))
        .join(b, F.expr("bd = d + lag"))
        .groupBy("lag", "n")
        .agg(F.sum(F.expr("c * bc")).cast("long").alias("nk"))
    )
    r = "cast(nk as double) / cast(dd as double)"
    terms = nk.crossJoin(F.broadcast(dsq)).select(
        "lag",
        "n",
        F.expr(f"case when dd = 0 then null else round({r}, 6) end").alias(
            "acf_r6"
        ),
        F.expr(
            f"case when dd = 0 then null else cast(round(({r}) * ({r})"
            f" / (n - lag), 9) as decimal(25,9)) end"
        ).alias("term"),
    )
    wq = W.orderBy("lag").rowsBetween(W.unboundedPreceding, W.currentRow)
    crit = _LB_CRIT_CASE.format(k="lag")
    return (
        terms.withColumn("qcum", F.sum("term").over(wq))
        .select(
            "lag",
            F.col("n").alias("n_days"),
            "acf_r6",
            F.expr(
                "round((n * (n + 2)) * cast(qcum as double), 6)"
            ).alias("lb_q_r6"),
            F.expr(crit).alias("crit_05"),
            F.expr(
                f"round((n * (n + 2)) * cast(qcum as double), 6)"
                f" > ({crit})"
            ).alias("reject_05"),
        )
        .orderBy("lag")
    )


ORACLE_LJUNG_BOX = f"""
WITH ev AS (SELECT epoch_us(ts) // {_DAY_US} AS d FROM events),
cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1),
bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM cnt),
spine AS (
  SELECT g.d, CAST(COALESCE(cnt.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(d0, d1)) AS d FROM bounds) g
  LEFT JOIN cnt ON g.d = cnt.d),
consts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM spine),
c AS (SELECT d, n * x - s AS c, n FROM spine CROSS JOIN consts),
dsq AS (SELECT CAST(SUM(c * c) AS BIGINT) AS dd FROM c),
lags AS (SELECT unnest(generate_series(1, {LB_MAX_LAG})) AS lag),
nk AS (
  SELECT lag, ANY_VALUE(a.n) AS n, CAST(SUM(a.c * b.c) AS BIGINT) AS nk
  FROM c a CROSS JOIN lags JOIN c b ON b.d = a.d + lag
  GROUP BY lag),
terms AS (
  SELECT lag, n,
         CASE WHEN dd = 0 THEN NULL
              ELSE ROUND(CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE), 6)
         END AS acf_r6,
         CASE WHEN dd = 0 THEN NULL
              ELSE CAST(ROUND((CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE))
                              * (CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE))
                              / (n - lag), 9) AS DECIMAL(25,9))
         END AS term
  FROM nk CROSS JOIN dsq)
SELECT lag, n AS n_days, acf_r6,
       ROUND((n * (n + 2)) * CAST(SUM(term) OVER (ORDER BY lag
             ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS lb_q_r6,
       {_LB_CRIT_CASE.format(k='lag')} AS crit_05,
       ROUND((n * (n + 2)) * CAST(SUM(term) OVER (ORDER BY lag
             ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
         > ({_LB_CRIT_CASE.format(k='lag')}) AS reject_05
FROM terms ORDER BY lag
"""


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion certificate
# --------------------------------------------------------------------------

JL_N_PAIRS = 256
JL_MAX_K = 32
JL_K_GRID = (8, 16, 32)
JL_POOL = 512  # md5-smallest vectors eligible for pair sampling


def emb_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion certificate: project the 64-dim
    embeddings through a deterministic md5 ±1 sign matrix onto k ∈
    {JL_K_GRID} coordinates and measure, over {JL_N_PAIRS} md5-sampled
    vector pairs, how well projected squared distances/k preserve the
    true squared distance — the empirical answer to "how few random
    dims could this corpus's distance structure survive", which prices
    the storage/recall trade the PQ and prefix-dim sweeps take as
    given. With ±1 entries E[(Σ_d s_d·Δ_d)²] = ‖Δ‖², so ratio_k =
    Σ_{{j<k}} Δy_j² / (k·‖Δ‖²) concentrates at 1 as k grows; the
    within-2x share is the JL guarantee read empirically.

    Determinism: pair members draw from the {JL_POOL} vectors with the
    SMALLEST md5(vec_id) (an order statistic of a pseudo-random hash —
    a uniform corpus sample with no RNG and no global sort: Spark
    computes an orderBy+limit as a map-side partial top-k), ranked
    within that pool; pair lanes are 'jla:i'/'jlb:i' mod pool size,
    every sign the 'jls:j:d' md5 lane. Distances live on the 2^-20
    integer grid, so numerator and denominator are exact BIGINTs and
    the only double is one division per (pair, k). Identical-vector
    pairs (‖Δ‖² = 0) and self-pairs are dropped.

    Scale: the corpus is scanned ONCE for the hash top-k pool;
    everything downstream — ranking, pair joins, the sign grid — runs
    over ≤ {JL_POOL} rows / {JL_N_PAIRS}×{JL_MAX_K}×64 grid cells,
    independent of corpus size."""
    h = sql_md5_long_spark("cast(vec_id as string)")
    pool = (
        catalog.load(spark, sf_dir, "embeddings")
        .select("vec_id", F.expr(_EMB_Q_SQL).alias("qv"), F.expr(h).alias("h"))
        .orderBy("h", "vec_id")
        .limit(JL_POOL)
    )
    rk = pool.withColumn(
        "rk", F.row_number().over(W.orderBy("h", "vec_id")) - 1
    ).select("rk", "qv").localCheckpoint(eager=True)  # both pair sides
    nrow = rk.agg(F.count("*").cast("long").alias("n"))
    ha = sql_md5_long_spark("concat('jla:', cast(id as string))")
    hb = sql_md5_long_spark("concat('jlb:', cast(id as string))")
    pairs = (
        spark.range(JL_N_PAIRS)
        .crossJoin(F.broadcast(nrow))
        .select(
            F.col("id").alias("pid"),
            F.expr(f"({ha}) % n").alias("ra"),
            F.expr(f"({hb}) % n").alias("rb"),
        )
        .filter(F.col("ra") != F.col("rb"))
    )
    a = rk.select(F.col("rk").alias("ra"), F.col("qv").alias("qa"))
    bb = rk.select(F.col("rk").alias("rb"), F.col("qv").alias("qb"))
    pv = (
        F.broadcast(pairs).join(a, "ra").join(bb, "rb")
        .select(
            "pid",
            F.expr("zip_with(qa, qb, (x, y) -> x - y)").alias("dv"),
        )
    )
    pd_ = pv.select(
        "pid", F.posexplode("dv").alias("d", "dvd")
    )
    den = pd_.groupBy("pid").agg(
        F.sum(F.expr("dvd * dvd")).cast("long").alias("den64")
    ).filter(F.col("den64") > 0)
    hs = sql_md5_long_spark(
        "concat('jls:', cast(j as string), ':', cast(d as string))"
    )
    jg = spark.range(JL_MAX_K).select(F.col("id").alias("j"))
    dy = (
        pd_.crossJoin(F.broadcast(jg))
        .select(
            "pid",
            "j",
            F.expr(f"(1 - 2 * (({hs}) % 2)) * dvd").alias("sd"),
        )
        .groupBy("pid", "j")
        .agg(F.sum("sd").cast("long").alias("y"))
        .select("pid", "j", F.expr("y * y").alias("dy2"))
    )
    kg = spark.createDataFrame(
        [(int(k),) for k in JL_K_GRID], "k long"
    )
    num = (
        dy.crossJoin(F.broadcast(kg))
        .filter(F.col("j") < F.col("k"))
        .groupBy("k", "pid")
        .agg(F.sum("dy2").cast("long").alias("num"))
    )
    per = num.join(den, "pid").select(
        "k",
        "pid",
        F.expr(
            "round(cast(num as double) / cast(k * den64 as double), 6)"
        ).alias("ratio_r6"),
        F.expr(
            "cast(2 * num >= k * den64 and num <= 2 * k * den64 as int)"
        ).alias("within"),
    )
    share = rat_round6_spark("n_within", "n_pairs")
    return (
        per.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "cast(sum(cast(ratio_r6 as decimal(25,6))) as double)"
            ).alias("sum_ratio"),
            F.min("ratio_r6").alias("min_ratio_r6"),
            F.max("ratio_r6").alias("max_ratio_r6"),
            F.sum("within").cast("long").alias("n_within"),
        )
        .select(
            "k",
            "n_pairs",
            F.expr("round(sum_ratio / n_pairs, 6)").alias("mean_ratio_r6"),
            "min_ratio_r6",
            "max_ratio_r6",
            F.expr(share).alias("within_2x_share_r6"),
        )
        .orderBy("k")
    )


def _jl_oracle() -> str:
    ha = sql_md5_long_duck("'jla:' || CAST(i AS VARCHAR)")
    hb = sql_md5_long_duck("'jlb:' || CAST(i AS VARCHAR)")
    hs = sql_md5_long_duck("'jls:' || CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)")
    share = rat_round6_duck("CAST(SUM(within) AS BIGINT)", "COUNT(*)")
    hp = sql_md5_long_duck("CAST(vec_id AS VARCHAR)")
    return f"""
WITH sel AS (
  SELECT vec_id, h FROM (SELECT vec_id, ({hp}) AS h FROM embeddings)
  ORDER BY h, vec_id LIMIT {JL_POOL}),
rk AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS rk
  FROM sel),
nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sel),
vals AS MATERIALIZED (
  SELECT rk.rk, d.d,
         CAST(TRUNC(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings e JOIN rk ON e.vec_id = rk.vec_id
  CROSS JOIN (SELECT unnest(range(64)) AS d) d),
pairs AS (
  SELECT i AS pid, ({ha}) % n AS ra, ({hb}) % n AS rb
  FROM (SELECT unnest(range({JL_N_PAIRS})) AS i) g CROSS JOIN nrow
  WHERE ({ha}) % n <> ({hb}) % n),
pd AS (
  SELECT p.pid, a.d, a.q - b.q AS dvd
  FROM pairs p JOIN vals a ON a.rk = p.ra JOIN vals b
    ON b.rk = p.rb AND b.d = a.d),
den AS (
  SELECT pid, CAST(SUM(dvd * dvd) AS BIGINT) AS den64
  FROM pd GROUP BY 1 HAVING SUM(dvd * dvd) > 0),
dy AS (
  SELECT pid, j, CAST(SUM((1 - 2 * (({hs}) % 2)) * dvd) AS BIGINT) AS y
  FROM pd CROSS JOIN (SELECT unnest(range({JL_MAX_K})) AS j) jg
  GROUP BY 1, 2),
num AS (
  SELECT k, pid, CAST(SUM(y * y) AS BIGINT) AS num
  FROM dy CROSS JOIN (SELECT unnest([8, 16, 32]) AS k) kg
  WHERE j < k GROUP BY 1, 2),
per AS (
  SELECT k, num.pid,
         ROUND(CAST(num AS DOUBLE) / CAST(k * den64 AS DOUBLE), 6)
           AS ratio_r6,
         CAST(2 * num >= k * den64 AND num <= 2 * k * den64 AS INT)
           AS within
  FROM num JOIN den ON num.pid = den.pid)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CAST(ratio_r6 AS DECIMAL(25,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_ratio_r6,
       MIN(ratio_r6) AS min_ratio_r6,
       MAX(ratio_r6) AS max_ratio_r6,
       {share} AS within_2x_share_r6
FROM per GROUP BY k ORDER BY k
"""


ORACLE_JL_DISTORTION = _jl_oracle()


# --------------------------------------------------------------------------
# Single-source supply exposure by brand
# --------------------------------------------------------------------------


def supplier_single_source_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration risk per brand: the share of traded
    parts that are effectively SINGLE-SOURCED (exactly one distinct
    supplier across the whole lineitem history) and, more importantly,
    the share of brand revenue flowing through those parts — the
    "one supplier failure kills X% of revenue" exposure number that
    orders_hhi_concentration (share-squared mix) does not read because
    a brand can be unconcentrated by HHI yet fully single-sourced at
    the part grain.

    Exact: revenue on the house cents lane, shares via the qrem split.

    Scale: one (partkey)-keyed shuffle for the per-part rollup
    (count-distinct collapses map-side to a set per part only after
    the key shuffle — supplier cardinality per part is tiny), then a
    broadcast join to the part dimension and a 25-row brand rollup."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.expr(_REV_CENTS).alias("cents")
    )
    pp = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_supp"),
        F.sum("cents").cast("long").alias("cents"),
    )
    part = catalog.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    per = (
        pp.join(part, "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.expr("cast(n_supp = 1 as long)"))
            .cast("long")
            .alias("n_single"),
            F.sum("cents").cast("long").alias("cents_total"),
            F.sum(F.expr("case when n_supp = 1 then cents else 0 end"))
            .cast("long")
            .alias("cents_single"),
        )
    )
    return per.select(
        "p_brand",
        "n_parts",
        "n_single",
        F.expr(rat_round6_spark("n_single", "n_parts")).alias(
            "single_share_r6"
        ),
        F.expr("cast(cents_total as double) / 100.0").alias("revenue_total"),
        F.expr(qrem_round6_spark("cents_single", "cents_total")).alias(
            "revenue_exposure_r6"
        ),
    ).orderBy("p_brand")


ORACLE_SINGLE_SOURCE = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
              AS BIGINT) AS cents
  FROM lineitem),
pp AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM li GROUP BY 1),
per AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_single,
         CAST(SUM(cents) AS BIGINT) AS cents_total,
         CAST(SUM(CASE WHEN n_supp = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS cents_single
  FROM pp JOIN part ON pp.l_partkey = part.p_partkey
  GROUP BY 1)
SELECT p_brand, n_parts, n_single,
       {rat_round6_duck('n_single', 'n_parts')} AS single_share_r6,
       CAST(cents_total AS DOUBLE) / 100.0 AS revenue_total,
       {qrem_round6_duck('cents_single', 'cents_total')}
         AS revenue_exposure_r6
FROM per ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# Inter-purchase regularity bands by market segment
# --------------------------------------------------------------------------


def customer_interpurchase_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buyer-rhythm segmentation: per customer the squared coefficient
    of variation CV² = n·Σg²/(Σg)² − 1 of inter-order gaps (days),
    banded into regular (CV² ≤ ½), poisson (≤ 3/2) and bursty — the
    renewal-process classification (CV² = 1 is memoryless) that
    orders_interarrival reads only at the aggregate feed grain. Output
    is the (segment × band) mix with the within-segment share and the
    band's mean gap — "which segments buy on a schedule".

    Customers need ≥ 2 gaps and a positive gap sum (an all-same-day
    history has no rhythm to classify); band boundaries are exact
    integer cross-multiplications (2nΣg² vs 3(Σg)², 5(Σg)²), ties to
    the lower band, so no division ever decides a band.

    Scale: one (custkey)-keyed shuffle; the per-customer ordered lag
    runs over ≤ tens of orders; the dimension join broadcasts."""
    day = f"unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US}"
    o = catalog.load(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(day).alias("d"), "o_orderkey"
    )
    wl = W.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = o.select(
        "o_custkey", (F.col("d") - F.lag("d").over(wl)).alias("g")
    ).filter(F.col("g").isNotNull())
    per = (
        g.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("g").cast("long").alias("sg"),
            F.sum(F.expr("g * g")).cast("long").alias("sg2"),
        )
        .filter((F.col("n") >= 2) & (F.col("sg") > 0))
        .select(
            "o_custkey",
            "n",
            "sg",
            "sg2",
            F.expr(
                "case when 2 * n * sg2 <= 3 * sg * sg then 'regular'"
                " when 2 * n * sg2 <= 5 * sg * sg then 'poisson'"
                " else 'bursty' end"
            ).alias("band"),
        )
    )
    cust = catalog.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = per.join(F.broadcast(cust), "o_custkey")
    seg = j.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_seg")
    )
    bands = j.groupBy("c_mktsegment", "band").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("sg").cast("long").alias("tot_g"),
        F.sum("n").cast("long").alias("tot_n"),
    )
    return (
        bands.join(seg, "c_mktsegment")
        .select(
            "c_mktsegment",
            "band",
            "n_customers",
            F.expr(rat_round6_spark("n_customers", "n_seg")).alias(
                "seg_share_r6"
            ),
            F.expr(qrem_round6_spark("tot_g", "tot_n")).alias(
                "mean_gap_days_r6"
            ),
        )
        .orderBy("c_mktsegment", "band")
    )


ORACLE_INTERPURCHASE = f"""
WITH o AS (
  SELECT o_custkey, epoch_us(o_orderdate) // {_DAY_US} AS d, o_orderkey
  FROM orders),
g AS (
  SELECT o_custkey,
         d - LAG(d) OVER (PARTITION BY o_custkey
                          ORDER BY d, o_orderkey) AS g
  FROM o),
per AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS sg, CAST(SUM(g * g) AS BIGINT) AS sg2
  FROM g WHERE g IS NOT NULL GROUP BY 1
  HAVING COUNT(*) >= 2 AND SUM(g) > 0),
b AS (
  SELECT c_mktsegment,
         CASE WHEN 2 * n * sg2 <= 3 * sg * sg THEN 'regular'
              WHEN 2 * n * sg2 <= 5 * sg * sg THEN 'poisson'
              ELSE 'bursty' END AS band,
         n, sg
  FROM per JOIN customer ON per.o_custkey = customer.c_custkey),
seg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_seg FROM b GROUP BY 1),
bands AS (
  SELECT c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(sg) AS BIGINT) AS tot_g, CAST(SUM(n) AS BIGINT) AS tot_n
  FROM b GROUP BY 1, 2)
SELECT bands.c_mktsegment, band, n_customers,
       {rat_round6_duck('n_customers', 'n_seg')} AS seg_share_r6,
       {qrem_round6_duck('tot_g', 'tot_n')} AS mean_gap_days_r6
FROM bands JOIN seg ON bands.c_mktsegment = seg.c_mktsegment
ORDER BY bands.c_mktsegment, band
"""


SPECS += [
    QuerySpec(
        "text_yules_k",
        text_yules_k,
        ORACLE_YULES_K,
        ("text", "quality", "stylometry"),
        doc="Yule's characteristic K vocabulary-richness constant per "
            "source (pure BIGINT S1/S2 lanes, qrem readout)",
    ),
    QuerySpec(
        "ev_max_drawdown_daily",
        ev_max_drawdown_daily,
        ORACLE_MAX_DRAWDOWN,
        ("events", "finance", "monitoring"),
        doc="max drawdown of the daily value-total series per event type "
            "(exact micro-unit running peak, earliest-trough tie-break)",
    ),
    QuerySpec(
        "stats_ljung_box_daily",
        stats_ljung_box_daily,
        ORACLE_LJUNG_BOX,
        ("stats", "timeseries", "test"),
        doc="Ljung-Box whiteness test of daily counts at lags 1..7 "
            "(integer centered lanes, decimal term accumulation, literal "
            "chi-square critical grid)",
    ),
    QuerySpec(
        "emb_jl_projection_distortion",
        emb_jl_projection_distortion,
        ORACLE_JL_DISTORTION,
        ("embedding", "sketch", "certificate"),
        doc="Johnson-Lindenstrauss distortion certificate: md5 sign-matrix "
            "projection at k=8/16/32 over 256 md5-sampled pairs, exact "
            "integer distance lanes",
    ),
    QuerySpec(
        "supplier_single_source_exposure",
        supplier_single_source_exposure,
        ORACLE_SINGLE_SOURCE,
        ("supplier", "finance", "risk"),
        doc="single-sourced part share and revenue exposure per brand "
            "(cents lanes, qrem shares)",
    ),
    QuerySpec(
        "customer_interpurchase_regularity",
        customer_interpurchase_regularity,
        ORACLE_INTERPURCHASE,
        ("customer", "stats", "segmentation"),
        doc="CV2-banded inter-purchase rhythm mix per market segment "
            "(integer cross-multiplied band boundaries)",
    ),
]


# ==========================================================================
# Batch W (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# Mann-Kendall nonparametric trend test on daily counts
# --------------------------------------------------------------------------


def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test of the zero-filled daily event-count
    series: S = Σ_{i<j} sgn(x_j − x_i), tie-corrected variance
    18·Var = n(n−1)(2n+5) − Σ t(t−1)(2t+5), and the continuity-
    corrected z against the literal two-sided 5% normal critical. The
    NONPARAMETRIC twin of stats_regression_trend — monotone-trend
    evidence that no outlier day can buy or veto, the standard
    hydrology/monitoring pairing with the Theil-Sen slope already in
    the registry.

    Exact: S and 18·Var are pure BIGINT lanes (pairs from a day self-
    join, ties from a value-grain rollup); z is one sqrt-division
    chain written identically in both engines; all-tied series read
    NULL z / 'degenerate' instead of dividing by zero.

    Scale: day-grain after one keyed shuffle; the pair join is over
    the calendar spine (≤ ~3650 rows), never over events."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(F.expr(day).alias("d"))
    cnt = ev.groupBy("d").agg(F.count("*").cast("long").alias("x"))
    spine = (
        cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.expr("sequence(d0, d1)")).alias("d"))
        .join(cnt, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
        .localCheckpoint(eager=True)  # pair join + tie rollup + n
    )
    b = spine.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    s = (
        spine.join(b, F.col("d2") > F.col("d"))
        .agg(
            F.sum(F.expr("cast(sign(x2 - x) as long)"))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        spine.groupBy("x")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
            .cast("long")
            .alias("tie_sum"),
            F.sum("t").cast("long").alias("n"),
        )
    )
    z = (
        "case when var18 <= 0 then null"
        " when s_stat > 0 then"
        " round((s_stat - 1) / sqrt(cast(var18 as double) / 18.0), 6)"
        " when s_stat < 0 then"
        " round((s_stat + 1) / sqrt(cast(var18 as double) / 18.0), 6)"
        " else 0.0 end"
    )
    return (
        s.crossJoin(ties)
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            F.expr(
                "n * (n - 1) * (2 * n + 5) - tie_sum"
            ).alias("var18"),
        )
        .select(
            "n_days",
            "s_stat",
            "var18",
            F.expr(z).alias("z_r6"),
            F.expr(
                f"case when var18 <= 0 then 'degenerate'"
                f" when ({z}) > 1.959964 then 'increasing'"
                f" when ({z}) < -1.959964 then 'decreasing'"
                f" else 'no_trend' end"
            ).alias("trend"),
        )
    )


_MK_Z = (
    "CASE WHEN var18 <= 0 THEN NULL"
    " WHEN s_stat > 0 THEN"
    " ROUND((s_stat - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)"
    " WHEN s_stat < 0 THEN"
    " ROUND((s_stat + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)"
    " ELSE 0.0 END"
)

ORACLE_MANN_KENDALL = f"""
WITH ev AS (SELECT epoch_us(ts) // {_DAY_US} AS d FROM events),
cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1),
spine AS (
  SELECT g.d, CAST(COALESCE(cnt.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(MIN(d), MAX(d))) AS d FROM cnt) g
  LEFT JOIN cnt ON g.d = cnt.d),
s AS (
  SELECT CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s_stat
  FROM spine a JOIN spine b ON b.d > a.d),
ties AS (
  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM spine GROUP BY x)),
base AS (
  SELECT n AS n_days, s_stat,
         n * (n - 1) * (2 * n + 5) - tie_sum AS var18
  FROM s CROSS JOIN ties)
SELECT n_days, s_stat, var18, {_MK_Z} AS z_r6,
       CASE WHEN var18 <= 0 THEN 'degenerate'
            WHEN ({_MK_Z}) > 1.959964 THEN 'increasing'
            WHEN ({_MK_Z}) < -1.959964 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM base
"""


# --------------------------------------------------------------------------
# Dickey-Fuller unit-root probe on daily counts
# --------------------------------------------------------------------------


def stats_dickey_fuller_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root probe of the zero-filled daily count
    series: OLS of Δx_t on x_{t−1} (with constant), reporting ρ̂ and
    the DF t-statistic against the literal asymptotic 5% critical
    −2.86 — "is daily volume mean-reverting or a random walk", the
    stationarity gate that decides whether ev_hurst_variance_plot's
    scaling exponent or a drift model is the right mental picture.
    (Lag-0 DF, not augmented: one regressor keeps every sufficient
    statistic an integer.)

    Exact: all five OLS sufficient statistics are BIGINT sums; the
    t² identity t² = num²·(n−2)/[(n·Syy−Sy²)·D − num²] runs entirely
    on DECIMAL(38,0) cross-products (no precision loss below 1e38),
    and the readout is one sqrt-division chain written identically in
    both engines. Degenerate D ≤ 0 or SSE ≤ 0 reads NULL.

    Scale: calendar-bounded after the one day-grain shuffle."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(F.expr(day).alias("d"))
    cnt = ev.groupBy("d").agg(F.count("*").cast("long").alias("x"))
    spine = (
        cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.expr("sequence(d0, d1)")).alias("d"))
        .join(cnt, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    wl = W.orderBy("d")
    reg = spine.select(
        "d", "x", F.lag("x").over(wl).alias("xl")
    ).filter(F.col("xl").isNotNull())
    sums = reg.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("xl").cast("long").alias("sx"),
        F.sum(F.expr("x - xl")).cast("long").alias("sy"),
        F.sum(F.expr("xl * xl")).cast("long").alias("sxx"),
        F.sum(F.expr("xl * (x - xl)")).cast("long").alias("sxy"),
        F.sum(F.expr("(x - xl) * (x - xl)")).cast("long").alias("syy"),
    )
    d_ = "np * sxx - sx * sx"
    num = "np * sxy - sx * sy"
    a_ = "np * syy - sy * sy"
    k_ = (
        f"cast(({a_}) as decimal(19,0)) * cast(({d_}) as decimal(19,0))"
        f" - cast(({num}) as decimal(19,0)) * cast(({num}) as decimal(19,0))"
    )
    num2 = (
        f"cast(({num}) as decimal(19,0)) * cast(({num}) as decimal(19,0))"
    )
    t_ = (
        f"case when ({d_}) <= 0 or ({k_}) <= 0 then null else"
        f" round(cast(sign({num}) as double)"
        f" * sqrt(cast(({num2}) as double) * (np - 2)"
        f" / cast(({k_}) as double)), 6) end"
    )
    return sums.select(
        F.col("np").alias("n_obs"),
        F.expr(
            f"case when ({d_}) = 0 then null else"
            f" round(cast(({num}) as double) / cast(({d_}) as double), 6)"
            f" end"
        ).alias("rho_hat_r6"),
        F.expr(t_).alias("t_stat_r6"),
        F.expr("cast(-2.86 as double)").alias("crit_05"),
        F.expr(f"({t_}) < -2.86").alias("reject_unit_root_05"),
    )


def _df_oracle() -> str:
    d_ = "np * sxx - sx * sx"
    num = "np * sxy - sx * sy"
    a_ = "np * syy - sy * sy"
    k_ = (
        f"CAST(({a_}) AS DECIMAL(19,0)) * CAST(({d_}) AS DECIMAL(19,0))"
        f" - CAST(({num}) AS DECIMAL(19,0)) * CAST(({num}) AS DECIMAL(19,0))"
    )
    num2 = (
        f"CAST(({num}) AS DECIMAL(19,0)) * CAST(({num}) AS DECIMAL(19,0))"
    )
    t_ = (
        f"CASE WHEN ({d_}) <= 0 OR ({k_}) <= 0 THEN NULL ELSE"
        f" ROUND(CAST(sign({num}) AS DOUBLE)"
        f" * sqrt(CAST(({num2}) AS DOUBLE) * (np - 2)"
        f" / CAST(({k_}) AS DOUBLE)), 6) END"
    )
    return f"""
WITH ev AS (SELECT epoch_us(ts) // {_DAY_US} AS d FROM events),
cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1),
spine AS (
  SELECT g.d, CAST(COALESCE(cnt.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(MIN(d), MAX(d))) AS d FROM cnt) g
  LEFT JOIN cnt ON g.d = cnt.d),
reg AS (
  SELECT x, LAG(x) OVER (ORDER BY d) AS xl FROM spine
  QUALIFY xl IS NOT NULL),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np, CAST(SUM(xl) AS BIGINT) AS sx,
         CAST(SUM(x - xl) AS BIGINT) AS sy,
         CAST(SUM(xl * xl) AS BIGINT) AS sxx,
         CAST(SUM(xl * (x - xl)) AS BIGINT) AS sxy,
         CAST(SUM((x - xl) * (x - xl)) AS BIGINT) AS syy
  FROM reg)
SELECT np AS n_obs,
       CASE WHEN ({d_}) = 0 THEN NULL ELSE
         ROUND(CAST(({num}) AS DOUBLE) / CAST(({d_}) AS DOUBLE), 6)
       END AS rho_hat_r6,
       {t_} AS t_stat_r6,
       CAST(-2.86 AS DOUBLE) AS crit_05,
       ({t_}) < -2.86 AS reject_unit_root_05
FROM sums
"""


ORACLE_DICKEY_FULLER = _df_oracle()


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov byte-uniformity test per media type
# --------------------------------------------------------------------------


def mm_payload_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS test of the payload byte distribution against
    discrete uniform {{0..255}} per media type: D = sup_b |F̂(b) −
    (b+1)/256| with the classic 1.358/√N 5% critical band. Where
    mm_payload_chi2_uniformity scores SQUARED deviations binned to 16
    bands, KS reads the worst CUMULATIVE deviation at full byte
    resolution — the sensitive detector for smooth distributional
    shifts (e.g. a biased range of byte values) that chi-square bands
    average away.

    Exact: the sup numerator max_b |256·cum_b − N·(b+1)| is a pure
    BIGINT lane over the zero-filled 256-value grid; D reads through
    the qrem split; the critical compare is a deterministic double
    chain identical in both engines.

    Scale: the hex-pair slide is map-side; state collapses to
    (3 types × 256 bytes) before any window."""
    from .multimodal import project_assets

    assets = project_assets(
        catalog.load(spark, sf_dir, "documents")
    ).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    by = (
        assets.select(
            "media_type",
            F.expr("hex(payload)").alias("hx"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 1)
        .select(
            "media_type",
            F.explode(
                F.expr(
                    "transform(sequence(1, n), i ->"
                    " cast(conv(substring(hx, 2 * i - 1, 2), 16, 10)"
                    " as int))"
                )
            ).alias("b"),
        )
        .groupBy("media_type", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )
    grid = (
        by.select("media_type")
        .distinct()
        .crossJoin(spark.range(256).select(F.col("id").cast("int").alias("b")))
        .join(by, ["media_type", "b"], "left")
        .select(
            "media_type", "b", F.coalesce("c", F.lit(0)).cast("long").alias("c")
        )
    )
    wc = (
        W.partitionBy("media_type")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dev = grid.withColumn("cum", F.sum("c").over(wc))
    tot = grid.groupBy("media_type").agg(F.sum("c").cast("long").alias("nb"))
    per = (
        dev.join(tot, "media_type")
        .select(
            "media_type",
            "nb",
            F.expr("abs(256 * cum - nb * (b + 1))").alias("dev_num"),
        )
        .groupBy("media_type", "nb")
        .agg(F.max("dev_num").cast("long").alias("max_num"))
    )
    d_raw = "cast(max_num as double) / cast(256 * nb as double)"
    return per.select(
        "media_type",
        F.col("nb").alias("n_bytes"),
        F.expr(qrem_round6_spark("max_num", "256 * nb")).alias("ks_d_r6"),
        F.expr("round(1.358 / sqrt(cast(nb as double)), 6)").alias(
            "crit_05_r6"
        ),
        F.expr(f"({d_raw}) > 1.358 / sqrt(cast(nb as double))").alias(
            "reject_05"
        ),
    ).orderBy("media_type")


ORACLE_KS_UNIFORM = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 1),
by AS (
  SELECT media_type,
         CAST('0x' || substr(hx, 2 * i - 1, 2) AS INT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM a, LATERAL unnest(generate_series(1, n)) AS u(i)
  GROUP BY 1, 2),
grid AS (
  SELECT t.media_type, g.b, CAST(COALESCE(by.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT media_type FROM by) t
  CROSS JOIN (SELECT unnest(range(256)) AS b) g
  LEFT JOIN by ON by.media_type = t.media_type AND by.b = g.b),
dev AS (
  SELECT media_type, b, c,
         SUM(c) OVER (PARTITION BY media_type ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM grid),
tot AS (
  SELECT media_type, CAST(SUM(c) AS BIGINT) AS nb FROM grid GROUP BY 1),
per AS (
  SELECT dev.media_type, nb,
         CAST(MAX(abs(256 * cum - nb * (b + 1))) AS BIGINT) AS max_num
  FROM dev JOIN tot ON dev.media_type = tot.media_type
  GROUP BY 1, 2)
SELECT media_type, nb AS n_bytes,
       {qrem_round6_duck('max_num', '256 * nb')} AS ks_d_r6,
       ROUND(1.358 / sqrt(CAST(nb AS DOUBLE)), 6) AS crit_05_r6,
       (CAST(max_num AS DOUBLE) / CAST(256 * nb AS DOUBLE))
         > 1.358 / sqrt(CAST(nb AS DOUBLE)) AS reject_05
FROM per ORDER BY media_type
"""


# --------------------------------------------------------------------------
# Rank-biased overlap between the LSH and exact rankings
# --------------------------------------------------------------------------

RBO_P = 0.9  # persistence: weights (1-p)*p^(d-1) — exact decimal literals

_RBO_W_CASE = (
    "case {d} when 1 then 0.1 when 2 then 0.09 when 3 then 0.081"
    " when 4 then 0.0729 when 5 then 0.06561 when 6 then 0.059049"
    " when 7 then 0.0531441 when 8 then 0.04782969"
    " when 9 then 0.043046721 when 10 then 0.0387420489 end"
)


def sim_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the shipped
    LSH ranking and the exact cosine top-{TOP_K}: RBO_trunc =
    Σ_d (1−p)p^(d−1)·|X_d ∩ Y_d|/d with p = {RBO_P} — the top-weighted
    list-similarity that sim_ann_rank_quality's recall/nDCG (which
    score against binary relevance) does not read: RBO compares the
    two RANKINGS directly, depth by depth, so a candidate list that
    finds the right set in the wrong order still pays. Also emits the
    raw prefix agreement A_d at depths 1/5/{TOP_K}.

    Exact: every weight is a terminating decimal literal (powers of
    0.9), every A_d one double division 9dp-rounded into the house
    DECIMAL sum; queries with zero LSH overlap contribute exact zeros
    through the (qid × depth) grid.

    Scale: rankings come from the production LSH candidate stream and
    the bounded {N_QUERIES}-probe exact pass; everything after is a
    ≤ {N_QUERIES}×{TOP_K} grid."""
    from .similarity import N_QUERIES, TOP_K, _cosine_expr, sim_ann_lsh

    emb = catalog.load(spark, sf_dir, "embeddings")
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
        .select("qid", "vec_id", "rk")
        .localCheckpoint(eager=True)  # feeds the pair join + qid grid
    )
    ltop = sim_ann_lsh(spark, sf_dir).select(
        "qid", F.col("rank").alias("rank_l"), "vec_id"
    )
    pairs = ltop.join(etop, ["qid", "vec_id"]).select(
        "qid", "rank_l", F.col("rk").alias("rank_e")
    )
    dg = spark.range(1, TOP_K + 1).select(F.col("id").alias("d"))
    inter = (
        pairs.crossJoin(F.broadcast(dg))
        .filter((F.col("rank_l") <= F.col("d")) & (F.col("rank_e") <= F.col("d")))
        .groupBy("qid", "d")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    grid = (
        etop.select("qid")
        .distinct()
        .crossJoin(F.broadcast(dg))
        .join(inter, ["qid", "d"], "left")
        .select(
            "qid",
            "d",
            F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
        )
    )
    w_d = _RBO_W_CASE.format(d="d")
    a9 = "cast(round(cast(inter as double) / d, 9) as decimal(25,9))"
    g = grid.agg(
        F.countDistinct("qid").cast("long").alias("n_queries"),
        F.sum(
            F.expr(
                f"cast(round(({w_d}) * (cast(inter as double) / d), 9)"
                f" as decimal(25,9))"
            )
        ).alias("s_rbo"),
        F.sum(F.expr(f"case when d = 1 then {a9} end")).alias("s_a1"),
        F.sum(F.expr(f"case when d = 5 then {a9} end")).alias("s_a5"),
        F.sum(F.expr(f"case when d = {TOP_K} then {a9} end")).alias("s_ak"),
    )
    return g.select(
        "n_queries",
        F.expr("round(cast(s_a1 as double) / n_queries, 6)").alias(
            "mean_agree_at1_r6"
        ),
        F.expr("round(cast(s_a5 as double) / n_queries, 6)").alias(
            "mean_agree_at5_r6"
        ),
        F.expr("round(cast(s_ak as double) / n_queries, 6)").alias(
            "mean_agree_atk_r6"
        ),
        F.expr("round(cast(s_rbo as double) / n_queries, 6)").alias(
            "rbo_trunc_r6"
        ),
    )


def _rbo_oracle() -> str:
    from .similarity import _LSH_CAND_CTES, N_QUERIES, TOP_K

    w_d = _RBO_W_CASE.format(d="d").upper()
    a9 = "CAST(ROUND(CAST(inter AS DOUBLE) / d, 9) AS DECIMAL(25,9))"
    return f"""
WITH {_LSH_CAND_CTES},
ls AS (
  SELECT c.qid, c.vec_id,
         list_cosine_similarity(eq.emb, ev.emb) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.qid
  JOIN e ev ON ev.vec_id = c.vec_id),
ltop AS (
  SELECT qid, vec_id, rank_l FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id) AS rank_l
    FROM ls) WHERE rank_l <= {TOP_K}),
ex AS (
  SELECT q.vec_id AS qid, ev.vec_id,
         list_cosine_similarity(q.emb, ev.emb) AS sim
  FROM e q JOIN e ev ON ev.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
etop AS (
  SELECT qid, vec_id, rk FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id) AS rk
    FROM ex) WHERE rk <= {TOP_K}),
pairs AS (
  SELECT l.qid, l.rank_l, x.rk AS rank_e
  FROM ltop l JOIN etop x ON l.qid = x.qid AND l.vec_id = x.vec_id),
dg AS (SELECT unnest(generate_series(1, {TOP_K})) AS d),
inter AS (
  SELECT qid, d, CAST(COUNT(*) AS BIGINT) AS inter
  FROM pairs CROSS JOIN dg
  WHERE rank_l <= d AND rank_e <= d GROUP BY 1, 2),
grid AS (
  SELECT q.qid, dg.d, CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter
  FROM (SELECT DISTINCT qid FROM etop) q CROSS JOIN dg
  LEFT JOIN inter i ON i.qid = q.qid AND i.d = dg.d),
g AS (
  SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
         SUM(CAST(ROUND(({w_d}) * (CAST(inter AS DOUBLE) / d), 9)
                  AS DECIMAL(25,9))) AS s_rbo,
         SUM(CASE WHEN d = 1 THEN {a9} END) AS s_a1,
         SUM(CASE WHEN d = 5 THEN {a9} END) AS s_a5,
         SUM(CASE WHEN d = {TOP_K} THEN {a9} END) AS s_ak
  FROM grid)
SELECT n_queries,
       ROUND(CAST(s_a1 AS DOUBLE) / n_queries, 6) AS mean_agree_at1_r6,
       ROUND(CAST(s_a5 AS DOUBLE) / n_queries, 6) AS mean_agree_at5_r6,
       ROUND(CAST(s_ak AS DOUBLE) / n_queries, 6) AS mean_agree_atk_r6,
       ROUND(CAST(s_rbo AS DOUBLE) / n_queries, 6) AS rbo_trunc_r6
FROM g
"""


# --------------------------------------------------------------------------
# Rich-club coefficient of the near-dup graph
# --------------------------------------------------------------------------

RICH_CLUB_KS = (1, 2, 3, 4, 8)


def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) of the
    n-gram-Jaccard near-dup graph at degree thresholds {RICH_CLUB_KS}:
    the edge density among nodes of degree ≥ k — do the duplicate hubs
    form a clique (template farm syndicate, φ→1) or stay mutually
    disconnected (independent mirror clusters, φ→0)? The threshold-
    sweep complement of graph_degree_assortativity's single global r.

    Exact: counts and the φ rational only; thresholds with fewer than
    two qualifying nodes read NULL (never divide by zero); every k in
    the literal grid emits a row even when the club is empty.

    Scale: the bounded candidate machinery caps degrees (MAX_DF);
    after the degree join the sweep is a broadcast of a 5-row grid."""
    from .dedup import dedup_ngram_jaccard

    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = sym.groupBy(F.col("doc_a").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint(eager=True)
    kg = spark.createDataFrame(
        [(int(k),) for k in RICH_CLUB_KS], "k long"
    )
    nodes_k = (
        deg.crossJoin(F.broadcast(kg))
        .filter(F.col("deg") >= F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    e = sym.join(
        deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("dx")),
        "doc_a",
    ).join(
        deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("dy")),
        "doc_b",
    )
    edges_k = (
        e.crossJoin(F.broadcast(kg))
        .filter((F.col("dx") >= F.col("k")) & (F.col("dy") >= F.col("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("symcount"))
    )
    phi = rat_round6_spark("symcount", "n_nodes * (n_nodes - 1)")
    return (
        kg.join(nodes_k, "k", "left")
        .join(edges_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            (F.coalesce("symcount", F.lit(0)) / 2)
            .cast("long")
            .alias("n_edges"),
            F.expr(
                f"case when coalesce(n_nodes, 0) >= 2 then"
                f" {phi.replace('symcount', 'coalesce(symcount, 0)')}"
                f" end"
            ).alias("phi_r6"),
        )
        .orderBy("k")
    )


def _rich_club_oracle() -> str:
    from .dedup import _NGRAM_PAIR_CTES, JACCARD_TAU

    ks = ", ".join(str(k) for k in RICH_CLUB_KS)
    phi = rat_round6_duck(
        "COALESCE(symcount, 0)", "n_nodes * (n_nodes - 1)"
    )
    return f"""
WITH {_NGRAM_PAIR_CTES},
dup AS (
  SELECT doc_a, doc_b
  FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_TAU}),
sym AS (SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup),
deg AS (SELECT doc_a AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
kg AS (SELECT unnest([{ks}]) AS k),
nodes_k AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg CROSS JOIN kg WHERE deg >= k GROUP BY 1),
edges_k AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS symcount
  FROM sym
  JOIN deg da ON sym.doc_a = da.node
  JOIN deg db ON sym.doc_b = db.node
  CROSS JOIN kg
  WHERE da.deg >= k AND db.deg >= k GROUP BY 1)
SELECT kg.k, CAST(COALESCE(n_nodes, 0) AS BIGINT) AS n_nodes,
       CAST(COALESCE(symcount, 0) // 2 AS BIGINT) AS n_edges,
       CASE WHEN COALESCE(n_nodes, 0) >= 2 THEN {phi} END AS phi_r6
FROM kg LEFT JOIN nodes_k ON kg.k = nodes_k.k
LEFT JOIN edges_k ON kg.k = edges_k.k
ORDER BY kg.k
"""


# --------------------------------------------------------------------------
# Epsilon-net coverage radius of the md5 pool
# --------------------------------------------------------------------------

COVER_NET = 512     # net: the md5-smallest vectors (the JL pool lane)
COVER_PROBES = 256  # probes: md5-smallest on the independent 'cvr:' lane
COVER_QUANTS = (25, 50, 75, 90)  # order-statistic percentile grid (+max)


def emb_coverage_radius_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covering-radius certificate of a {COVER_NET}-vector md5-sampled
    net: the EXACT order statistics (p25/p50/p75/p90/max) of each
    probe's distance to its nearest net vector — "90% of the space
    lies within d_p90 of a 512-point net", the covering-number readout
    that prices how many IVF/kmeans centers this space needs BEFORE
    training any codebook. A fixed radius grid would saturate on a
    clustered corpus (every share 0 or 1); quantiles of the distance
    itself stay informative at every SF.

    Net and probes are order statistics of two independent md5 lanes
    (plain vec_id hash for the net — the JL pool, deliberately shared —
    and a 'cvr:'-prefixed lane for the probes), so both engines and
    every rerun draw identical samples with no RNG and no global sort
    (orderBy+limit runs as a map-side partial top-k); a probe that
    also landed in the net reads distance 0 and is counted in
    ``n_in_net`` (the ≤ {COVER_NET}/n deterministic overlap, total at
    tiny SF where the net swallows the corpus). Distances are exact
    BIGINTs on the 2^-20 grid; quantiles are exact k = ⌈q·n/100⌉
    selections on those integers; min-per-probe is a map-side-
    combinable groupBy MIN (the TwoNN-fix pattern — never a
    corpus-sized window).

    Scale: two single-scan hash top-k passes, then a constant
    {COVER_PROBES}×{COVER_NET} grid."""
    h = sql_md5_long_spark("cast(vec_id as string)")
    hp = sql_md5_long_spark("concat('cvr:', cast(vec_id as string))")
    emb = catalog.load(spark, sf_dir, "embeddings")
    net = (
        emb.select(F.expr(_EMB_Q_SQL).alias("nq"), F.expr(h).alias("h"), "vec_id")
        .orderBy("h", "vec_id")
        .limit(COVER_NET)
        .select("nq")
        .localCheckpoint(eager=True)  # 512 rows; pin before the NLJ fan-out
    )
    probes = (
        emb.select(
            "vec_id", F.expr(_EMB_Q_SQL).alias("pq"), F.expr(hp).alias("hp")
        )
        .orderBy("hp", "vec_id")
        .limit(COVER_PROBES)
        .select("vec_id", "pq")
        .localCheckpoint(eager=True)
    )
    d2 = probes.crossJoin(F.broadcast(net)).select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(pq, nq, (x, y) -> (x - y) * (x - y)),"
            " 0L, (acc, v) -> acc + v)"
        ).alias("d2"),
    )
    md2 = d2.groupBy("vec_id").agg(F.min("d2").alias("md2"))
    rk = md2.withColumn(
        "rk", F.row_number().over(W.orderBy("md2", "vec_id"))
    ).crossJoin(
        F.broadcast(md2.agg(F.count("*").cast("long").alias("n")))
    )
    dist = "round(sqrt(cast(md2 as double)) / 1048576.0, 6)"
    sels = [
        F.max(
            F.expr(
                f"case when rk = (n * {q} + 99) div 100 then {dist} end"
            )
        ).alias(f"d_p{q}_r6")
        for q in COVER_QUANTS
    ]
    return rk.agg(
        F.max("n").alias("n_probes"),
        F.sum(F.expr("cast(md2 = 0 as long)")).cast("long").alias("n_in_net"),
        *sels,
        F.max(F.expr(f"case when rk = n then {dist} end")).alias("d_max_r6"),
    )


def _cover_oracle() -> str:
    h = sql_md5_long_duck("CAST(vec_id AS VARCHAR)")
    hp = sql_md5_long_duck("'cvr:' || CAST(vec_id AS VARCHAR)")
    dist = "ROUND(sqrt(CAST(md2 AS DOUBLE)) / 1048576.0, 6)"
    qsel = ",\n       ".join(
        f"MAX(CASE WHEN rk = (n * {q} + 99) // 100 THEN {dist} END)"
        f" AS d_p{q}_r6"
        for q in COVER_QUANTS
    )
    return f"""
WITH net_sel AS (
  SELECT vec_id FROM (SELECT vec_id, ({h}) AS h FROM embeddings)
  ORDER BY h, vec_id LIMIT {COVER_NET}),
probe_sel AS (
  SELECT vec_id FROM (SELECT vec_id, ({hp}) AS hp FROM embeddings)
  ORDER BY hp, vec_id LIMIT {COVER_PROBES}),
dims AS (SELECT unnest(range(64)) AS d),
netv AS MATERIALIZED (
  SELECT s.vec_id AS nid, d.d,
         CAST(TRUNC(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM net_sel s JOIN embeddings e ON e.vec_id = s.vec_id CROSS JOIN dims d),
probev AS MATERIALIZED (
  SELECT s.vec_id AS pid, d.d,
         CAST(TRUNC(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM probe_sel s JOIN embeddings e ON e.vec_id = s.vec_id
  CROSS JOIN dims d),
d2 AS (
  SELECT p.pid, n.nid, CAST(SUM((p.q - n.q) * (p.q - n.q)) AS BIGINT) AS d2
  FROM probev p JOIN netv n ON p.d = n.d
  GROUP BY 1, 2),
md2 AS (SELECT pid, MIN(d2) AS md2 FROM d2 GROUP BY 1),
rk AS (
  SELECT pid, md2,
         ROW_NUMBER() OVER (ORDER BY md2, pid) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM md2)
SELECT MAX(n) AS n_probes,
       CAST(SUM(CASE WHEN md2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_net,
       {qsel},
       MAX(CASE WHEN rk = n THEN {dist} END) AS d_max_r6
FROM rk
"""


ORACLE_RBO = _rbo_oracle()
ORACLE_RICH_CLUB = _rich_club_oracle()
ORACLE_COVERAGE = _cover_oracle()


SPECS += [
    QuerySpec(
        "stats_mann_kendall_trend",
        stats_mann_kendall_trend,
        ORACLE_MANN_KENDALL,
        ("stats", "timeseries", "test"),
        doc="Mann-Kendall nonparametric trend test of daily counts with "
            "tie-corrected variance (pure BIGINT S/Var lanes)",
    ),
    QuerySpec(
        "stats_dickey_fuller_daily",
        stats_dickey_fuller_daily,
        ORACLE_DICKEY_FULLER,
        ("stats", "timeseries", "test"),
        doc="Dickey-Fuller unit-root probe of daily counts (integer OLS "
            "sufficient statistics, decimal t-squared identity)",
    ),
    QuerySpec(
        "mm_payload_ks_uniform",
        mm_payload_ks_uniform,
        ORACLE_KS_UNIFORM,
        ("multimodal", "stats", "test"),
        doc="one-sample KS test of payload bytes vs discrete uniform per "
            "media type (exact sup-deviation BIGINT lane, 1.358/sqrt(N) "
            "critical band)",
    ),
    QuerySpec(
        "sim_rank_biased_overlap",
        sim_rank_biased_overlap,
        ORACLE_RBO,
        ("similarity", "ann", "quality"),
        doc="rank-biased overlap (p=0.9) between the LSH and exact "
            "cosine rankings plus prefix agreement at depths 1/5/k",
    ),
    QuerySpec(
        "graph_rich_club_coefficient",
        graph_rich_club_coefficient,
        ORACLE_RICH_CLUB,
        ("graph", "dedup"),
        doc="rich-club coefficient sweep of the near-dup graph at degree "
            "thresholds 1/2/3/4/8 (exact density rationals, NULL-guarded)",
    ),
    QuerySpec(
        "emb_coverage_radius_net",
        emb_coverage_radius_net,
        ORACLE_COVERAGE,
        ("embedding", "ann", "certificate"),
        doc="covering-radius quantile certificate (p25..max of exact "
            "nearest-net distance) over a 512-vector md5 net with 256 "
            "md5 probes",
    ),
]


# ==========================================================================
# Batch X (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# Jarque-Bera normality test on daily counts
# --------------------------------------------------------------------------


def stats_jarque_bera_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of the zero-filled daily count
    series: sample skewness and excess kurtosis from exact central-
    moment lanes, JB = n/6·(S² + K²/4) against the literal χ²(2) 5%
    critical 5.991465. Completes the daily-series test bench (LB =
    whiteness, MK/DF = trend/unit root, JB = shape): a fat-tailed or
    skewed daily load violates the Gaussian assumptions the z-based
    monitors upstream quietly make.

    Exact: centering is division-free (c_t = n·x_t − S, BIGINT); Σc²
    and Σc³ are BIGINT, Σc⁴ accumulates as DECIMAL(38,0) (per-term
    c²·c² would pass 2⁶³ at 100× volume); skew/kurtosis are scale-
    invariant in c. The only doubles are the final chain — written
    with x·sqrt(x) instead of pow(x, 1.5), which is NOT cross-engine
    bit-stable. Zero-variance series read NULL.

    Scale: calendar-bounded after one day-grain shuffle."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(F.expr(day).alias("d"))
    cnt = ev.groupBy("d").agg(F.count("*").cast("long").alias("x"))
    spine = (
        cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.expr("sequence(d0, d1)")).alias("d"))
        .join(cnt, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    consts = spine.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    c = spine.crossJoin(F.broadcast(consts)).select(
        "n", F.expr("n * x - s").alias("c")
    )
    sums = c.groupBy("n").agg(
        F.sum(F.expr("c * c")).cast("long").alias("s2"),
        F.sum(F.expr("c * c * c")).cast("long").alias("s3"),
        F.sum(
            F.expr("cast(c * c as decimal(38,0)) * (c * c)")
        ).alias("s4"),
    )
    skew = (
        "cast(s3 as double) * sqrt(cast(n as double))"
        " / (cast(s2 as double) * sqrt(cast(s2 as double)))"
    )
    kurt = (
        "cast(n as double) * cast(s4 as double)"
        " / (cast(s2 as double) * cast(s2 as double)) - 3.0"
    )
    jb = (
        f"cast(n as double) / 6.0 * (({skew}) * ({skew})"
        f" + ({kurt}) * ({kurt}) / 4.0)"
    )
    return sums.select(
        F.col("n").alias("n_days"),
        F.expr(
            f"case when s2 = 0 then null else round({skew}, 6) end"
        ).alias("skew_r6"),
        F.expr(
            f"case when s2 = 0 then null else round({kurt}, 6) end"
        ).alias("kurt_excess_r6"),
        F.expr(
            f"case when s2 = 0 then null else round({jb}, 6) end"
        ).alias("jb_r6"),
        F.expr(
            f"case when s2 = 0 then null else ({jb}) > 5.991465 end"
        ).alias("reject_normal_05"),
    )


def _jb_oracle() -> str:
    skew = (
        "CAST(s3 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))"
        " / (CAST(s2 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE)))"
    )
    kurt = (
        "CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE)"
        " / (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) - 3.0"
    )
    jb = (
        f"CAST(n AS DOUBLE) / 6.0 * (({skew}) * ({skew})"
        f" + ({kurt}) * ({kurt}) / 4.0)"
    )
    return f"""
WITH ev AS (SELECT epoch_us(ts) // {_DAY_US} AS d FROM events),
cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1),
spine AS (
  SELECT g.d, CAST(COALESCE(cnt.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(MIN(d), MAX(d))) AS d FROM cnt) g
  LEFT JOIN cnt ON g.d = cnt.d),
consts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM spine),
c AS (SELECT n, n * x - s AS c FROM spine CROSS JOIN consts),
sums AS (
  SELECT n, CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(SUM(c * c * c) AS BIGINT) AS s3,
         SUM(CAST(c * c AS DECIMAL(38,0)) * (c * c)) AS s4
  FROM c GROUP BY 1)
SELECT n AS n_days,
       CASE WHEN s2 = 0 THEN NULL ELSE ROUND({skew}, 6) END AS skew_r6,
       CASE WHEN s2 = 0 THEN NULL ELSE ROUND({kurt}, 6) END
         AS kurt_excess_r6,
       CASE WHEN s2 = 0 THEN NULL ELSE ROUND({jb}, 6) END AS jb_r6,
       CASE WHEN s2 = 0 THEN NULL ELSE ({jb}) > 5.991465 END
         AS reject_normal_05
FROM sums
"""


ORACLE_JARQUE_BERA = _jb_oracle()


# --------------------------------------------------------------------------
# Fisher separability of the label structure
# --------------------------------------------------------------------------


def emb_fisher_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher separability of the embedding labels: the between-class
    to within-class scatter ratio SB/SW over all 64 dims — the LDA-
    style one-number answer to "how linearly separable are the labels"
    that complements emb_cluster_silhouette (per-point geometry) and
    emb_cell_purity_by_label (quantized cells) with the classical
    scatter decomposition SB + SW = total scatter.

    Exact: per-(label, dim) coordinate sums are BIGINT on the 2^-20
    grid; the scatter identities SB = Σ_ld s_ld²/n_l − Σ_d S_d²/N and
    SW = T − Σ_ld s_ld²/n_l need only per-group divisions, each
    9dp-rounded into DECIMAL sums (order-free); the total q² mass T
    accumulates as DECIMAL(38,0). One double division for the ratio.

    Scale: one (label, dim)-grain shuffle (≤ labels×64 cells) after a
    map-side explode; no pairwise term anywhere."""
    e = catalog.load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(F.expr(_EMB_Q_SQL)).alias("d", "q")
    )
    ld = e.groupBy("label", "d").agg(
        F.count("*").cast("long").alias("nl"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.expr("cast(q as decimal(38,0)) * q")).alias("ssq"),
    )
    a = ld.agg(
        F.sum(
            F.expr(
                "cast(round(cast(s as double) * cast(s as double)"
                " / nl, 9) as decimal(38,9))"
            )
        ).alias("a"),
        F.sum("ssq").alias("t"),
        F.countDistinct("label").cast("long").alias("n_labels"),
    )
    g = ld.groupBy("d").agg(
        F.sum("s").cast("long").alias("sd"),
        F.sum("nl").cast("long").alias("nd"),
    ).agg(
        F.sum(
            F.expr(
                "cast(round(cast(sd as double) * cast(sd as double)"
                " / nd, 9) as decimal(38,9))"
            )
        ).alias("b"),
        F.max("nd").alias("n_vectors"),
    )
    # readouts convert grid^2 -> embedding units^2 (/2^40) BEFORE the
    # 6dp round: round(x, 6) on a ~1e14 double is ulp-ambiguous across
    # engines, on a ~1e2 double it is exact
    g2 = "1099511627776.0"
    return (
        a.crossJoin(g)
        .select(
            "n_vectors",
            "n_labels",
            F.expr(f"round(cast(a - b as double) / {g2}, 6)").alias("sb_r6"),
            F.expr(
                f"round(cast(cast(t as decimal(38,9)) - a as double)"
                f" / {g2}, 6)"
            ).alias("sw_r6"),
            F.expr(
                "case when cast(cast(t as decimal(38,9)) - a as double) <= 0"
                " then null else round(cast(a - b as double)"
                " / cast(cast(t as decimal(38,9)) - a as double), 6) end"
            ).alias("fisher_ratio_r6"),
        )
    )


ORACLE_FISHER = """
WITH e AS (
  SELECT label, d.d,
         CAST(TRUNC(CAST(embedding[d.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS d) d),
ld AS (
  SELECT label, d, CAST(COUNT(*) AS BIGINT) AS nl,
         CAST(SUM(q) AS BIGINT) AS s,
         SUM(CAST(q AS DECIMAL(38,0)) * q) AS ssq
  FROM e GROUP BY 1, 2),
a AS (
  SELECT SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nl, 9)
                  AS DECIMAL(38,9))) AS a,
         SUM(ssq) AS t,
         CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
  FROM ld),
g0 AS (
  SELECT d, CAST(SUM(s) AS BIGINT) AS sd, CAST(SUM(nl) AS BIGINT) AS nd
  FROM ld GROUP BY 1),
g AS (
  SELECT SUM(CAST(ROUND(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / nd, 9)
                  AS DECIMAL(38,9))) AS b,
         MAX(nd) AS n_vectors
  FROM g0)
SELECT n_vectors, n_labels,
       ROUND(CAST(a - b AS DOUBLE) / 1099511627776.0, 6) AS sb_r6,
       ROUND(CAST(CAST(t AS DECIMAL(38,9)) - a AS DOUBLE)
             / 1099511627776.0, 6) AS sw_r6,
       CASE WHEN CAST(CAST(t AS DECIMAL(38,9)) - a AS DOUBLE) <= 0
            THEN NULL
            ELSE ROUND(CAST(a - b AS DOUBLE)
                 / CAST(CAST(t AS DECIMAL(38,9)) - a AS DOUBLE), 6) END
         AS fisher_ratio_r6
FROM a CROSS JOIN g
"""


# --------------------------------------------------------------------------
# Weekly top-K active-user turnover
# --------------------------------------------------------------------------

TOPK_TURNOVER_K = 50


def ev_topk_turnover_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turnover of the weekly top-{TOPK_TURNOVER_K} active-user set:
    Jaccard overlap and newcomer share between consecutive weeks'
    leaderboards — "is the head of the activity distribution a stable
    cohort or a churning one", the set-dynamics readout that
    ev_windowed_topk (who is on the board) and ev_retention_cohorts
    (all users, not the head) each miss.

    Ranking ties break on user_id ascending (deterministic in both
    engines); weeks are epoch-day div 7. Jaccard and newcomer-share
    are exact count rationals; weeks shorter than K keep their true
    set size (no padding), so the shares always use the real
    |prev ∪ curr|.

    Scale: one (week, user) rollup, a per-week rank window (the
    established windowed-topk posture — state is users-per-week), and
    a K-row × weeks self-join on the tiny leaderboard table."""
    wk = f"({_US}) div {_DAY_US} div 7"
    ev = catalog.load(spark, sf_dir, "events").select(
        F.expr(wk).alias("wek"), "user_id"
    )
    uw = ev.groupBy("wek", "user_id").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wr = W.partitionBy("wek").orderBy(F.desc("cnt"), F.asc("user_id"))
    top = (
        uw.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOPK_TURNOVER_K)
        .select("wek", "user_id")
        .localCheckpoint(eager=True)  # tiny; joined against itself
    )
    sizes = top.groupBy("wek").agg(F.count("*").cast("long").alias("k"))
    prev = top.select((F.col("wek") + 1).alias("pwek"),
                      F.col("user_id").alias("p_user"))
    inter = (
        top.join(prev, (F.col("wek") == F.col("pwek"))
                 & (F.col("user_id") == F.col("p_user")))
        .groupBy("wek")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    psz = sizes.select((F.col("wek") + 1).alias("pwek"),
                       F.col("k").alias("k_prev"))
    pairs = (
        sizes.join(psz, F.col("wek") == F.col("pwek"))
        .join(inter, "wek", "left")
        .select(
            "wek",
            "k_prev",
            F.col("k").alias("k_curr"),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        )
    )
    jac = rat_round6_spark("n_common", "k_prev + k_curr - n_common")
    new = rat_round6_spark("k_curr - n_common", "k_curr")
    return pairs.select(
        F.col("wek").alias("week"),
        "k_prev",
        "k_curr",
        "n_common",
        F.expr(jac).alias("jaccard_r6"),
        F.expr(new).alias("newcomer_share_r6"),
    ).orderBy("week")


ORACLE_TOPK_TURNOVER = f"""
WITH uw AS (
  SELECT (epoch_us(ts) // {_DAY_US}) // 7 AS wek, user_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
top AS (
  SELECT wek, user_id FROM (
    SELECT wek, user_id,
           ROW_NUMBER() OVER (PARTITION BY wek
                              ORDER BY cnt DESC, user_id) AS rk
    FROM uw) WHERE rk <= {TOPK_TURNOVER_K}),
sizes AS (SELECT wek, CAST(COUNT(*) AS BIGINT) AS k FROM top GROUP BY 1),
inter AS (
  SELECT c.wek, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM top c JOIN top p ON p.wek = c.wek - 1 AND p.user_id = c.user_id
  GROUP BY 1),
pairs AS (
  SELECT s.wek, p.k AS k_prev, s.k AS k_curr,
         CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common
  FROM sizes s JOIN sizes p ON p.wek = s.wek - 1
  LEFT JOIN inter i ON i.wek = s.wek)
SELECT wek AS week, k_prev, k_curr, n_common,
       {rat_round6_duck('n_common', 'k_prev + k_curr - n_common')}
         AS jaccard_r6,
       {rat_round6_duck('k_curr - n_common', 'k_curr')}
         AS newcomer_share_r6
FROM pairs ORDER BY week
"""


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the payload byte stream
# --------------------------------------------------------------------------


def mm_byte_runs_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the high/low byte sequence (byte ≥
    0x80) per media type: per document, the run count is 1 + boundary
    crossings (read from the hex-pair slide — the first hex digit
    alone decides the class); expectation 1 + 2·n₁n₂/n and variance
    2n₁n₂(2n₁n₂−n)/(n²(n−1)) accumulate per-doc into DECIMAL lanes,
    and the corpus z = (R − E)/√V per type. Ciphertext-like payloads
    pass; structured payloads (runs of ASCII, then runs of high
    bytes) reject hard — the SEQUENTIAL complement of the marginal
    chi-square/KS byte tests.

    Exact: run and class counts are BIGINT; per-doc E and V are one
    9dp-rounded division each (n, n₁ are doc-sized so nothing
    overflows); single-class docs contribute R = 1 = E, V = 0 exactly.

    Scale: map-side slide, per-doc rollup, 3-row final aggregate."""
    from .multimodal import project_assets

    assets = project_assets(
        catalog.load(spark, sf_dir, "documents")
    ).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    hi = "substring(hx, 2 * i - 1, 1) >= '8'"
    hi2 = "substring(hx, 2 * i + 1, 1) >= '8'"
    per_doc = (
        assets.select(
            "media_type",
            "doc_id",
            F.expr("hex(payload)").alias("hx"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "media_type",
            "doc_id",
            F.col("n").cast("long").alias("n"),
            F.expr(
                f"cast(size(filter(sequence(1, n), i -> {hi}))"
                f" as long)"
            ).alias("n1"),
            F.expr(
                f"cast(size(filter(sequence(1, n - 1), i ->"
                f" ({hi}) != ({hi2}))) as long) + 1"
            ).alias("r"),
        )
    )
    ev_ = "1.0d + 2.0d * n1 * (n - n1) / n"
    vv = (
        "2.0d * n1 * (n - n1) * (2.0d * n1 * (n - n1) - n)"
        " / (cast(n as double) * n * (n - 1))"
    )
    agg = per_doc.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_bytes"),
        F.sum("r").cast("long").alias("r_total"),
        F.sum(
            F.expr(f"cast(round({ev_}, 9) as decimal(38,9))")
        ).alias("e_total"),
        F.sum(
            F.expr(f"cast(round({vv}, 9) as decimal(38,9))")
        ).alias("v_total"),
    )
    z = (
        "(cast(r_total as double) - cast(e_total as double))"
        " / sqrt(cast(v_total as double))"
    )
    return agg.select(
        "media_type",
        "n_docs",
        "n_bytes",
        "r_total",
        F.expr("round(cast(e_total as double), 6)").alias("e_total_r6"),
        F.expr(
            f"case when cast(v_total as double) <= 0 then null"
            f" else round({z}, 6) end"
        ).alias("z_r6"),
        F.expr(
            f"case when cast(v_total as double) <= 0 then null"
            f" else abs({z}) > 1.959964 end"
        ).alias("reject_random_05"),
    ).orderBy("media_type")


def _runs_oracle() -> str:
    # 2e0 not 2.0: a bare 2.0 literal is DECIMAL in DuckDB and the
    # arithmetic chain would leave the double domain Spark computes in
    ev_ = "1e0 + 2e0 * n1 * (n - n1) / n"
    vv = (
        "2e0 * n1 * (n - n1) * (2e0 * n1 * (n - n1) - n)"
        " / (CAST(n AS DOUBLE) * n * (n - 1))"
    )
    z = (
        "(CAST(r_total AS DOUBLE) - CAST(e_total AS DOUBLE))"
        " / sqrt(CAST(v_total AS DOUBLE))"
    )
    return f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 2),
per_doc AS (
  SELECT media_type, doc_id, CAST(n AS BIGINT) AS n,
         CAST((SELECT COUNT(*) FROM unnest(generate_series(1, n)) AS u(i)
               WHERE substr(hx, 2 * i - 1, 1) >= '8') AS BIGINT) AS n1,
         CAST((SELECT COUNT(*)
               FROM unnest(generate_series(1, n - 1)) AS u(i)
               WHERE (substr(hx, 2 * i - 1, 1) >= '8')
                  != (substr(hx, 2 * i + 1, 1) >= '8')) AS BIGINT) + 1
           AS r
  FROM a),
agg AS (
  SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_bytes,
         CAST(SUM(r) AS BIGINT) AS r_total,
         SUM(CAST(ROUND({ev_}, 9) AS DECIMAL(38,9))) AS e_total,
         SUM(CAST(ROUND({vv}, 9) AS DECIMAL(38,9))) AS v_total
  FROM per_doc GROUP BY 1)
SELECT media_type, n_docs, n_bytes, r_total,
       ROUND(CAST(e_total AS DOUBLE), 6) AS e_total_r6,
       CASE WHEN CAST(v_total AS DOUBLE) <= 0 THEN NULL
            ELSE ROUND({z}, 6) END AS z_r6,
       CASE WHEN CAST(v_total AS DOUBLE) <= 0 THEN NULL
            ELSE abs({z}) > 1.959964 END AS reject_random_05
FROM agg ORDER BY media_type
"""


ORACLE_BYTE_RUNS = _runs_oracle()


# --------------------------------------------------------------------------
# Kuiper circular-uniformity test on hour of day
# --------------------------------------------------------------------------


def stats_kuiper_hour_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper test of hour-of-day uniformity per event type: V = D⁺ +
    D⁻ over the 24-bin clock grid against the 1.747/√N asymptotic 5%
    band. Kuiper's V is the CIRCULAR-invariant KS — a load profile
    whose peak straddles midnight moves probability across the 0-hour
    cut, which vanilla KS under-reads and V detects identically
    wherever the peak sits; the hypothesis-test companion to
    ev_hour_of_day_profile's descriptive histogram.

    Both deviations are computed on the discrete grid: D⁺ =
    max_h(24·cum_h − N·(h+1)) and D⁻ = max_h(N·(h+1) − 24·cum_prev_h)
    with cum_prev the left limit (documented discrete convention, the
    exact sup for a step-vs-linear comparison); both BIGINT, floored
    at 0, read through the qrem split over 24N.

    Scale: (type × 24) cells after one map-side-combinable rollup."""
    return assemble_kuiper(kuiper_grain(catalog.load(spark, sf_dir, "events")))


def kuiper_grain(events: DataFrame) -> DataFrame:
    """The (event_type, h, c) hour-of-day clock cells, shared by the batch
    op and streaming/jobs.run_kuiper_hour_stream."""
    hr = f"(({_US}) div 3600000000) % 24"
    ev = events.select("event_type", F.expr(hr).cast("int").alias("h"))
    return ev.groupBy("event_type", "h").agg(
        F.count("*").cast("long").alias("c")
    )


def assemble_kuiper(by: DataFrame) -> DataFrame:
    """Kuiper readout over the (event_type, h, c) 24-bin clock frame —
    the shared contract between the batch op and
    streaming/jobs.run_kuiper_hour_stream (type×24-bounded complete-
    mode state), so the batch oracle transitively gates the stream."""
    by = by.localCheckpoint(eager=True)  # grid spine + totals
    spark = by.sparkSession
    grid = (
        by.select("event_type")
        .distinct()
        .crossJoin(spark.range(24).select(F.col("id").cast("int").alias("h")))
        .join(by, ["event_type", "h"], "left")
        .select(
            "event_type", "h",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    wc = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dev = grid.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "cum_prev", F.col("cum") - F.col("c")
    )
    tot = grid.groupBy("event_type").agg(F.sum("c").cast("long").alias("nn"))
    per = (
        dev.join(tot, "event_type")
        .groupBy("event_type", "nn")
        .agg(
            F.greatest(
                F.max(F.expr("24 * cum - nn * (h + 1)")), F.lit(0)
            ).cast("long").alias("dplus"),
            F.greatest(
                F.max(F.expr("nn * (h + 1) - 24 * cum_prev")), F.lit(0)
            ).cast("long").alias("dminus"),
        )
    )
    v_raw = "cast(dplus + dminus as double) / cast(24 * nn as double)"
    return per.select(
        "event_type",
        F.col("nn").alias("n_events"),
        F.expr(qrem_round6_spark("dplus + dminus", "24 * nn")).alias(
            "kuiper_v_r6"
        ),
        F.expr("round(1.747 / sqrt(cast(nn as double)), 6)").alias(
            "crit_05_r6"
        ),
        F.expr(f"({v_raw}) > 1.747 / sqrt(cast(nn as double))").alias(
            "reject_05"
        ),
    ).orderBy("event_type")


ORACLE_KUIPER = f"""
WITH ev AS (
  SELECT event_type,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS h
  FROM events),
byh AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
grid AS (
  SELECT t.event_type, g.h, CAST(COALESCE(byh.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM byh) t
  CROSS JOIN (SELECT unnest(range(24)) AS h) g
  LEFT JOIN byh ON byh.event_type = t.event_type AND byh.h = g.h),
dev AS (
  SELECT event_type, h, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING) - c AS cum_prev
  FROM grid),
tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS nn FROM grid GROUP BY 1),
per AS (
  SELECT dev.event_type, nn,
         CAST(GREATEST(MAX(24 * cum - nn * (h + 1)), 0) AS BIGINT)
           AS dplus,
         CAST(GREATEST(MAX(nn * (h + 1) - 24 * cum_prev), 0) AS BIGINT)
           AS dminus
  FROM dev JOIN tot ON dev.event_type = tot.event_type
  GROUP BY 1, 2)
SELECT event_type, nn AS n_events,
       {qrem_round6_duck('dplus + dminus', '24 * nn')} AS kuiper_v_r6,
       ROUND(1.747 / sqrt(CAST(nn AS DOUBLE)), 6) AS crit_05_r6,
       (CAST(dplus + dminus AS DOUBLE) / CAST(24 * nn AS DOUBLE))
         > 1.747 / sqrt(CAST(nn AS DOUBLE)) AS reject_05
FROM per ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Tukey-fence outlier audit of order totals
# --------------------------------------------------------------------------


def orders_tukey_fence_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of order totals per priority class:
    exact type-1 quartiles (k = ⌈q·n⌉ order statistics on cents), the
    1.5·IQR fences kept INTEGER by working at doubled cents (2·lo =
    5·Q1 − 3·Q3, 2·hi = 5·Q3 − 3·Q1 — no .5 ever materializes), and
    the per-class outlier counts/share — the box-plot audit that
    ev_hourly_mad_anomalies provides for time series, applied to the
    revenue distribution where fat right tails live.

    Scale: per-priority rank window (5 classes; the established
    equidepth posture), then a broadcast of the 5-row fence table back
    onto the totals for the exact count."""
    o = catalog.load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.expr(
            "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
        ).alias("cents"),
    )
    wr = W.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    rk = o.withColumn("rk", F.row_number().over(wr))
    nn = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n")
    )
    q13 = (
        rk.join(nn, "o_orderpriority")
        .groupBy("o_orderpriority", "n")
        .agg(
            F.max(
                F.expr("case when rk = (n * 25 + 99) div 100 then cents end")
            ).alias("q1"),
            F.max(
                F.expr("case when rk = (n * 75 + 99) div 100 then cents end")
            ).alias("q3"),
        )
        .select(
            "o_orderpriority", "n", "q1", "q3",
            F.expr("5 * q1 - 3 * q3").alias("lo2"),
            F.expr("5 * q3 - 3 * q1").alias("hi2"),
        )
    )
    out = (
        o.join(F.broadcast(q13), "o_orderpriority")
        .groupBy("o_orderpriority", "n", "q1", "q3")
        .agg(
            F.sum(F.expr("cast(2 * cents < lo2 as long)"))
            .cast("long").alias("n_low"),
            F.sum(F.expr("cast(2 * cents > hi2 as long)"))
            .cast("long").alias("n_high"),
        )
    )
    share = rat_round6_spark("n_low + n_high", "n")
    return out.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        F.expr("cast(q1 as double) / 100.0").alias("q1_price"),
        F.expr("cast(q3 as double) / 100.0").alias("q3_price"),
        "n_low",
        "n_high",
        F.expr(share).alias("outlier_share_r6"),
    ).orderBy("o_orderpriority")


ORACLE_TUKEY_FENCE = f"""
WITH o AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
rk AS (
  SELECT o_orderpriority, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents, o_orderkey) AS rk
  FROM o),
nn AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1),
q13 AS (
  SELECT rk.o_orderpriority, n,
         MAX(CASE WHEN rk = (n * 25 + 99) // 100 THEN cents END) AS q1,
         MAX(CASE WHEN rk = (n * 75 + 99) // 100 THEN cents END) AS q3
  FROM rk JOIN nn ON rk.o_orderpriority = nn.o_orderpriority
  GROUP BY 1, 2),
outc AS (
  SELECT o.o_orderpriority, n, q1, q3,
         CAST(SUM(CASE WHEN 2 * cents < 5 * q1 - 3 * q3
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         CAST(SUM(CASE WHEN 2 * cents > 5 * q3 - 3 * q1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_high
  FROM o JOIN q13 ON o.o_orderpriority = q13.o_orderpriority
  GROUP BY 1, 2, 3, 4)
SELECT o_orderpriority, n AS n_orders,
       CAST(q1 AS DOUBLE) / 100.0 AS q1_price,
       CAST(q3 AS DOUBLE) / 100.0 AS q3_price,
       n_low, n_high,
       {rat_round6_duck('n_low + n_high', 'n')} AS outlier_share_r6
FROM outc ORDER BY o_orderpriority
"""


SPECS += [
    QuerySpec(
        "stats_jarque_bera_daily",
        stats_jarque_bera_daily,
        ORACLE_JARQUE_BERA,
        ("stats", "timeseries", "test"),
        doc="Jarque-Bera normality test of daily counts (division-free "
            "integer central moments, x*sqrt(x) instead of pow)",
    ),
    QuerySpec(
        "emb_fisher_separability",
        emb_fisher_separability,
        ORACLE_FISHER,
        ("embedding", "audit", "metric"),
        doc="Fisher between/within scatter ratio of embedding labels "
            "(BIGINT coordinate sums, 9dp decimal scatter identities)",
    ),
    QuerySpec(
        "ev_topk_turnover_weekly",
        ev_topk_turnover_weekly,
        ORACLE_TOPK_TURNOVER,
        ("events", "window", "drift"),
        doc="Jaccard turnover and newcomer share of the weekly top-50 "
            "active-user leaderboard (exact count rationals)",
    ),
    QuerySpec(
        "mm_byte_runs_randomness",
        mm_byte_runs_randomness,
        ORACLE_BYTE_RUNS,
        ("multimodal", "stats", "test"),
        doc="Wald-Wolfowitz runs test of the high/low byte sequence per "
            "media type (runs from the hex slide, decimal E/V lanes)",
    ),
    QuerySpec(
        "stats_kuiper_hour_uniformity",
        stats_kuiper_hour_uniformity,
        ORACLE_KUIPER,
        ("stats", "events", "test"),
        doc="Kuiper circular-uniformity test of hour-of-day load per "
            "event type (exact D+/D- BIGINT lanes on the 24-bin grid)",
    ),
    QuerySpec(
        "orders_tukey_fence_outliers",
        orders_tukey_fence_outliers,
        ORACLE_TUKEY_FENCE,
        ("orders", "audit", "stats"),
        doc="Tukey-fence outlier audit of order totals per priority "
            "(exact type-1 quartiles, doubled-cents integer fences)",
    ),
]


# ==========================================================================
# Batch Y (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# Month-over-month revenue bridge (waterfall)
# --------------------------------------------------------------------------


def orders_revenue_bridge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue BRIDGE at the customer grain: each
    consecutive month pair decomposes the revenue delta into new /
    churned / expanded / contracted customer lanes, satisfying the
    waterfall identity curr = prev + new − churned + expansion −
    contraction EXACTLY (integer cents — both sides of the identity
    are emitted so the reader can audit it). orders_cohort_ndr reads
    retention per acquisition cohort; the bridge is the finance view:
    where did THIS month's delta come from.

    Calendar months with no orders still appear as pair members (a
    dark month churns everyone; the next month books them as new).

    Scale: one (custkey, month) rollup, then a self-equi-join on
    (custkey, month+1) — shuffle-bounded by active customer-months —
    and a month-grain rollup."""
    mi = "year(o_orderdate) * 12 + month(o_orderdate) - 1"
    cm = (
        catalog.load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.expr(mi).cast("long").alias("m"),
            F.expr(
                "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .groupBy("o_custkey", "m")
        .agg(F.sum("cents").cast("long").alias("cents"))
        .localCheckpoint(eager=True)  # both sides of the bridge join
    )
    span = cm.agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
    months = span.select(
        F.explode(F.expr("sequence(m0 + 1, m1)")).alias("m")
    )
    prev = cm.select(
        F.col("o_custkey").alias("p_cust"),
        (F.col("m") + 1).alias("pm"),
        F.col("cents").alias("p_cents"),
    )
    j = cm.join(
        prev,
        (F.col("o_custkey") == F.col("p_cust")) & (F.col("m") == F.col("pm")),
        "full",
    ).select(
        F.coalesce("m", "pm").alias("m"),
        F.col("cents").alias("c_cents"),
        "p_cents",
    )
    per = j.groupBy("m").agg(
        F.sum(F.expr("case when p_cents is null then 1 else 0 end"))
        .cast("long").alias("n_new"),
        F.sum(F.expr("case when c_cents is null then 1 else 0 end"))
        .cast("long").alias("n_churned"),
        F.sum(
            F.expr(
                "case when c_cents is not null and p_cents is not null"
                " and c_cents > p_cents then 1 else 0 end"
            )
        ).cast("long").alias("n_expanded"),
        F.sum(
            F.expr(
                "case when c_cents is not null and p_cents is not null"
                " and c_cents < p_cents then 1 else 0 end"
            )
        ).cast("long").alias("n_contracted"),
        F.sum(F.expr("case when p_cents is null then c_cents else 0 end"))
        .cast("long").alias("new_c"),
        F.sum(F.expr("case when c_cents is null then p_cents else 0 end"))
        .cast("long").alias("churn_c"),
        F.sum(
            F.expr(
                "case when c_cents is not null and p_cents is not null"
                " and c_cents > p_cents then c_cents - p_cents else 0 end"
            )
        ).cast("long").alias("exp_c"),
        F.sum(
            F.expr(
                "case when c_cents is not null and p_cents is not null"
                " and c_cents < p_cents then p_cents - c_cents else 0 end"
            )
        ).cast("long").alias("con_c"),
        F.sum(F.coalesce("p_cents", F.lit(0))).cast("long").alias("prev_c"),
        F.sum(F.coalesce("c_cents", F.lit(0))).cast("long").alias("curr_c"),
    )
    out = months.join(per, "m", "left").select(
        F.col("m").alias("month_index"),
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in (
                "n_new", "n_churned", "n_expanded", "n_contracted",
            )
        ],
        *[
            F.expr(f"cast(coalesce({c}, 0) as double) / 100.0").alias(a)
            for c, a in (
                ("prev_c", "prev_rev"), ("new_c", "new_rev"),
                ("churn_c", "churned_rev"), ("exp_c", "expansion_rev"),
                ("con_c", "contraction_rev"), ("curr_c", "curr_rev"),
            )
        ],
    )
    return out.orderBy("month_index")


ORACLE_REVENUE_BRIDGE = """
WITH cm AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS m,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
months AS (
  SELECT unnest(generate_series(MIN(m) + 1, MAX(m))) AS m FROM cm),
j AS (
  SELECT COALESCE(c.m, p.m + 1) AS m, c.cents AS c_cents,
         p.cents AS p_cents
  FROM cm c FULL JOIN cm p
    ON c.o_custkey = p.o_custkey AND c.m = p.m + 1),
per AS (
  SELECT m,
         CAST(SUM(CASE WHEN p_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(SUM(CASE WHEN c_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned,
         CAST(SUM(CASE WHEN c_cents IS NOT NULL AND p_cents IS NOT NULL
                       AND c_cents > p_cents THEN 1 ELSE 0 END) AS BIGINT)
           AS n_expanded,
         CAST(SUM(CASE WHEN c_cents IS NOT NULL AND p_cents IS NOT NULL
                       AND c_cents < p_cents THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contracted,
         CAST(SUM(CASE WHEN p_cents IS NULL THEN c_cents ELSE 0 END)
              AS BIGINT) AS new_c,
         CAST(SUM(CASE WHEN c_cents IS NULL THEN p_cents ELSE 0 END)
              AS BIGINT) AS churn_c,
         CAST(SUM(CASE WHEN c_cents IS NOT NULL AND p_cents IS NOT NULL
                       AND c_cents > p_cents THEN c_cents - p_cents
                       ELSE 0 END) AS BIGINT) AS exp_c,
         CAST(SUM(CASE WHEN c_cents IS NOT NULL AND p_cents IS NOT NULL
                       AND c_cents < p_cents THEN p_cents - c_cents
                       ELSE 0 END) AS BIGINT) AS con_c,
         CAST(SUM(COALESCE(p_cents, 0)) AS BIGINT) AS prev_c,
         CAST(SUM(COALESCE(c_cents, 0)) AS BIGINT) AS curr_c
  FROM j GROUP BY 1)
SELECT months.m AS month_index,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned,
       CAST(COALESCE(n_expanded, 0) AS BIGINT) AS n_expanded,
       CAST(COALESCE(n_contracted, 0) AS BIGINT) AS n_contracted,
       CAST(COALESCE(prev_c, 0) AS DOUBLE) / 100.0 AS prev_rev,
       CAST(COALESCE(new_c, 0) AS DOUBLE) / 100.0 AS new_rev,
       CAST(COALESCE(churn_c, 0) AS DOUBLE) / 100.0 AS churned_rev,
       CAST(COALESCE(exp_c, 0) AS DOUBLE) / 100.0 AS expansion_rev,
       CAST(COALESCE(con_c, 0) AS DOUBLE) / 100.0 AS contraction_rev,
       CAST(COALESCE(curr_c, 0) AS DOUBLE) / 100.0 AS curr_rev
FROM months LEFT JOIN per ON months.m = per.m
ORDER BY month_index
"""


# --------------------------------------------------------------------------
# Two-sample Cramer-von Mises: weekend vs weekday values
# --------------------------------------------------------------------------


def stats_cramer_von_mises_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test of weekend vs weekday event
    VALUES on the tie-aware ECDF form T = Σ_v (F̂−Ĝ)²(f_v+g_v) ·
    nm/(n+m)² — the INTEGRATED-difference companion to the existing
    KS (sup-difference) and Mann-Whitney (rank-shift) weekend tests:
    CvM accumulates distributional difference over the whole support,
    so many small ECDF gaps that KS ignores and a location-free shape
    change that MWU ignores both register.

    Exact: values quantize to micro-units; everything runs at VALUE
    grain (cum counts per distinct value — no row-grain sort, the
    mann-whitney value-grain posture), D_v = m·cumF − n·cumG is
    BIGINT, the Σ D²(f+g) term accumulates as DECIMAL(38,0), and the
    single division readout is over the DECIMAL denominator
    nm(n+m)². Asymptotic 5% critical 0.461 (literal).

    Scale: state = distinct value grid (quantized cents-scale — tens
    of thousands of cells at any SF) after one map-side rollup."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(
        F.expr(f"(({day}) + 3) % 7 >= 5").alias("wkend"),
        F.expr("cast(floor(value * 1000000 + 0.5) as bigint)").alias("v"),
    )
    vg = ev.groupBy("v").agg(
        F.sum(F.expr("cast(wkend as long)")).cast("long").alias("f"),
        F.sum(F.expr("cast(not wkend as long)")).cast("long").alias("g"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = vg.select(
        "v", "f", "g",
        F.sum("f").over(wv).alias("cf"),
        F.sum("g").over(wv).alias("cg"),
    )
    tot = vg.agg(
        F.sum("f").cast("long").alias("n"), F.sum("g").cast("long").alias("m")
    )
    terms = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(
            F.expr(
                "cast((m * cf - n * cg) as decimal(38,0))"
                " * (m * cf - n * cg) * (f + g)"
            )
        ).alias("u"),
    )
    t_ = (
        "cast(u as double) * n * m / (cast(n as double) * n * m * m"
        " * (n + m) * (n + m))"
    )
    return terms.select(
        F.col("n").alias("n_weekend"),
        F.col("m").alias("n_weekday"),
        F.expr(
            f"case when n = 0 or m = 0 then null else round({t_}, 6) end"
        ).alias("cvm_t_r6"),
        F.expr("cast(0.461 as double)").alias("crit_05"),
        F.expr(
            f"case when n = 0 or m = 0 then null"
            f" else ({t_}) > 0.461 end"
        ).alias("reject_05"),
    )


def _cvm_oracle() -> str:
    t_ = (
        "CAST(u AS DOUBLE) * n * m / (CAST(n AS DOUBLE) * n * m * m"
        " * (n + m) * (n + m))"
    )
    return f"""
WITH ev AS (
  SELECT ((epoch_us(ts) // {_DAY_US}) + 3) % 7 >= 5 AS wkend,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v
  FROM events),
vg AS (
  SELECT v,
         CAST(SUM(CASE WHEN wkend THEN 1 ELSE 0 END) AS BIGINT) AS f,
         CAST(SUM(CASE WHEN wkend THEN 0 ELSE 1 END) AS BIGINT) AS g
  FROM ev GROUP BY 1),
cum AS (
  SELECT v, f, g,
         SUM(f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cf,
         SUM(g) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cg
  FROM vg),
tot AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n, CAST(SUM(g) AS BIGINT) AS m
  FROM vg),
terms AS (
  SELECT MAX(n) AS n, MAX(m) AS m,
         SUM(CAST((m * cf - n * cg) AS DECIMAL(38,0))
             * (m * cf - n * cg) * (f + g)) AS u
  FROM cum CROSS JOIN tot)
SELECT n AS n_weekend, m AS n_weekday,
       CASE WHEN n = 0 OR m = 0 THEN NULL
            ELSE ROUND({t_}, 6) END AS cvm_t_r6,
       CAST(0.461 AS DOUBLE) AS crit_05,
       CASE WHEN n = 0 OR m = 0 THEN NULL
            ELSE ({t_}) > 0.461 END AS reject_05
FROM terms
"""


ORACLE_CVM_WEEKEND = _cvm_oracle()


# --------------------------------------------------------------------------
# Mood's median test: weekend vs weekday values
# --------------------------------------------------------------------------


def stats_mood_median_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of weekend vs weekday event values: the 2×2
    table of (group × above/below the GRAND median) and its χ²(1)
    statistic — the coarsest, most outlier-proof of the weekend
    location tests (only the side of the median matters), closing the
    weekend bench alongside MWU (ranks), sign test, QTE and CvM.

    The grand median is the exact k = ⌈N/2⌉ order statistic located
    at VALUE grain (cumulative counts over the quantized micro-unit
    grid — no row sort, the value-grain selection posture); ties AT
    the median are excluded from the table (documented convention),
    and χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) runs on DECIMAL
    cross-products with one double division.

    Scale: two passes over the distinct-value grid, both map-side
    combinable rollups."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(
        F.expr(f"(({day}) + 3) % 7 >= 5").alias("wkend"),
        F.expr("cast(floor(value * 1000000 + 0.5) as bigint)").alias("v"),
    )
    vg = ev.groupBy("v").agg(
        F.sum(F.expr("cast(wkend as long)")).cast("long").alias("f"),
        F.sum(F.expr("cast(not wkend as long)")).cast("long").alias("g"),
    ).localCheckpoint(eager=True)  # median scan + table rollup
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = vg.agg(F.sum(F.expr("f + g")).cast("long").alias("nn"))
    med = (
        vg.select("v", F.sum(F.expr("f + g")).over(wv).alias("cum"))
        .crossJoin(F.broadcast(tot))
        .filter(F.expr("cum >= (nn + 1) div 2"))
        .agg(F.min("v").alias("med"))
    )
    tab = vg.crossJoin(F.broadcast(med)).agg(
        F.sum(F.expr("case when v > med then f else 0 end"))
        .cast("long").alias("a"),
        F.sum(F.expr("case when v < med then f else 0 end"))
        .cast("long").alias("b"),
        F.sum(F.expr("case when v > med then g else 0 end"))
        .cast("long").alias("c"),
        F.sum(F.expr("case when v < med then g else 0 end"))
        .cast("long").alias("d"),
        F.max("med").alias("med"),
    )
    chi = (
        "cast((a + b + c + d) * cast(a * d - b * c as decimal(38,0))"
        " * (a * d - b * c) as double)"
        " / (cast(cast(a + b as decimal(38,0)) * (c + d) * (a + c)"
        " * (b + d) as double))"
    )
    guard = "(a + b) = 0 or (c + d) = 0 or (a + c) = 0 or (b + d) = 0"
    return tab.select(
        F.expr("cast(med as double) / 1000000.0").alias("grand_median"),
        F.col("a").alias("n_wkend_above"),
        F.col("b").alias("n_wkend_below"),
        F.col("c").alias("n_wkday_above"),
        F.col("d").alias("n_wkday_below"),
        F.expr(
            f"case when {guard} then null else round({chi}, 6) end"
        ).alias("chi2_r6"),
        F.expr(
            f"case when {guard} then null else ({chi}) > 3.841459 end"
        ).alias("reject_05"),
    )


def _mood_oracle() -> str:
    chi = (
        "CAST((a + b + c + d) * CAST(a * d - b * c AS DECIMAL(38,0))"
        " * (a * d - b * c) AS DOUBLE)"
        " / (CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c)"
        " * (b + d) AS DOUBLE))"
    )
    guard = "(a + b) = 0 OR (c + d) = 0 OR (a + c) = 0 OR (b + d) = 0"
    return f"""
WITH ev AS (
  SELECT ((epoch_us(ts) // {_DAY_US}) + 3) % 7 >= 5 AS wkend,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v
  FROM events),
vg AS (
  SELECT v,
         CAST(SUM(CASE WHEN wkend THEN 1 ELSE 0 END) AS BIGINT) AS f,
         CAST(SUM(CASE WHEN wkend THEN 0 ELSE 1 END) AS BIGINT) AS g
  FROM ev GROUP BY 1),
tot AS (SELECT CAST(SUM(f + g) AS BIGINT) AS nn FROM vg),
med AS (
  SELECT MIN(v) AS med FROM (
    SELECT v, SUM(f + g) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             AS cum
    FROM vg) c CROSS JOIN tot
  WHERE cum >= (nn + 1) // 2),
tab AS (
  SELECT CAST(SUM(CASE WHEN v > med THEN f ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN v < med THEN f ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN v > med THEN g ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN v < med THEN g ELSE 0 END) AS BIGINT) AS d,
         MAX(med) AS med
  FROM vg CROSS JOIN med)
SELECT CAST(med AS DOUBLE) / 1000000.0 AS grand_median,
       a AS n_wkend_above, b AS n_wkend_below,
       c AS n_wkday_above, d AS n_wkday_below,
       CASE WHEN {guard} THEN NULL ELSE ROUND({chi}, 6) END AS chi2_r6,
       CASE WHEN {guard} THEN NULL ELSE ({chi}) > 3.841459 END
         AS reject_05
FROM tab
"""


ORACLE_MOOD_MEDIAN = _mood_oracle()


# --------------------------------------------------------------------------
# Gaps-and-islands: user consecutive-active-day streaks
# --------------------------------------------------------------------------


def ev_user_day_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over user activity: each user's distinct
    active days split into maximal CONSECUTIVE runs (day −
    dense-index is constant within a run — the classic islands
    idiom), rolled up into the island-length distribution with the
    user reach per length. The engagement-consistency readout
    (ev_stickiness_dau_mau is a ratio; this is the full streak
    histogram behind it), and the registry's canonical gaps-and-
    islands exemplar.

    Exact: pure integer day arithmetic and counts; share over all
    islands through the rat split.

    Scale: one (user, day) distinct rollup; the islands window
    partitions BY USER (rows per user bounded by the calendar
    horizon); final state is the tiny length histogram."""
    day = f"({_US}) div {_DAY_US}"
    ud = (
        catalog.load(spark, sf_dir, "events")
        .select("user_id", F.expr(day).alias("d"))
        .distinct()
    )
    wu = W.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id",
        (F.col("d") - F.row_number().over(wu)).alias("grp"),
    ).groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("len")
    )
    tot = isl.agg(F.count("*").cast("long").alias("n_islands_total"))
    per = isl.groupBy("len").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    share = rat_round6_spark("n_islands", "n_islands_total")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("len").alias("island_len_days"),
            "n_islands",
            "n_users",
            F.expr(share).alias("island_share_r6"),
        )
        .orderBy("island_len_days")
    )


ORACLE_DAY_ISLANDS = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS d FROM events),
isl AS (
  SELECT user_id,
         d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM ud),
runs AS (
  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_islands_total FROM runs),
per AS (
  SELECT len, CAST(COUNT(*) AS BIGINT) AS n_islands,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM runs GROUP BY 1)
SELECT len AS island_len_days, n_islands, n_users,
       {rat_round6_duck('n_islands', 'n_islands_total')}
         AS island_share_r6
FROM per CROSS JOIN tot ORDER BY island_len_days
"""


# --------------------------------------------------------------------------
# ABC x XYZ inventory classification matrix
# --------------------------------------------------------------------------


def orders_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC × XYZ classification matrix of parts: ABC from cumulative
    revenue share (A ≤ 80%, B ≤ 95% — the orders_abc_migration
    boundaries, integer cross-multiplied) crossed with XYZ demand
    VARIABILITY — CV of monthly shipped quantity over the full
    calendar month spine (X: CV ≤ ½ steady, Y: ≤ 1, Z: erratic) —
    the inventory-planning matrix ("A-X parts get safety stock math,
    C-Z parts get made to order") that neither classification alone
    provides.

    Exact: revenue on cents lanes, cumshare boundaries and CV bands
    integer cross-multiplications (zero-sales months included via the
    spine count, so Σq and Σq² are over the TRUE n months; Σg > 0
    guaranteed for any traded part).

    Scale: one (part, month) rollup, a part-grain revenue rank window
    (the abc_migration posture), and a 9-cell rollup."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "year(l_shipdate) * 12 + month(l_shipdate) - 1"
        ).cast("long").alias("m"),
        F.expr(_REV_CENTS).alias("cents"),
        F.expr("cast(floor(l_quantity + 0.5) as bigint)").alias("q"),
    )
    span = li.agg(
        (F.max("m") - F.min("m") + 1).cast("long").alias("n_months")
    )
    pm = li.groupBy("l_partkey", "m").agg(
        F.sum("q").cast("long").alias("q")
    )
    per = (
        pm.groupBy("l_partkey")
        .agg(
            F.sum("q").cast("long").alias("sq"),
            F.sum(F.expr("q * q")).cast("long").alias("sq2"),
        )
        .crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            F.expr(
                "case when 4 * n_months * sq2 <= 5 * sq * sq then 'X'"
                " when n_months * sq2 <= 2 * sq * sq then 'Y'"
                " else 'Z' end"
            ).alias("xyz"),
        )
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    wr = W.orderBy(F.desc("cents"), F.asc("l_partkey")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    abc = (
        rev.withColumn("cum", F.sum("cents").over(wr))
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "cents",
            F.expr(
                "case when 5 * cum <= 4 * t then 'A'"
                " when 20 * cum <= 19 * t then 'B' else 'C' end"
            ).alias("abc"),
        )
    )
    j = abc.join(per, "l_partkey")
    share = qrem_round6_spark("cents_cell", "t")
    return (
        j.groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("cents_cell"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc",
            "xyz",
            "n_parts",
            F.expr(share).alias("revenue_share_r6"),
        )
        .orderBy("abc", "xyz")
    )


ORACLE_ABC_XYZ = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
           AS m,
         CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
              AS BIGINT) AS cents,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q
  FROM lineitem),
span AS (SELECT CAST(MAX(m) - MIN(m) + 1 AS BIGINT) AS n_months FROM li),
pm AS (
  SELECT l_partkey, m, CAST(SUM(q) AS BIGINT) AS q
  FROM li GROUP BY 1, 2),
per AS (
  SELECT l_partkey,
         CASE WHEN 4 * n_months * sq2 <= 5 * sq * sq THEN 'X'
              WHEN n_months * sq2 <= 2 * sq * sq THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM (SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS sq,
               CAST(SUM(q * q) AS BIGINT) AS sq2
        FROM pm GROUP BY 1) s CROSS JOIN span),
rev AS (
  SELECT l_partkey, CAST(SUM(cents) AS BIGINT) AS cents
  FROM li GROUP BY 1),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
abc AS (
  SELECT l_partkey, cents,
         CASE WHEN 5 * cum <= 4 * t THEN 'A'
              WHEN 20 * cum <= 19 * t THEN 'B' ELSE 'C' END AS abc
  FROM (SELECT l_partkey, cents,
               SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM rev) r CROSS JOIN tot),
j AS (
  SELECT abc, xyz, abc0.cents
  FROM (SELECT l_partkey, cents, abc FROM abc) abc0
  JOIN per ON abc0.l_partkey = per.l_partkey)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
       {qrem_round6_duck('CAST(SUM(j.cents) AS BIGINT)', 't')}
         AS revenue_share_r6
FROM j CROSS JOIN tot
GROUP BY abc, xyz, t ORDER BY abc, xyz
"""


# --------------------------------------------------------------------------
# PMI collocation extraction
# --------------------------------------------------------------------------

COLLOC_MIN_COUNT = 5
COLLOC_TOP_N = 20


def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the corpus top-{COLLOC_TOP_N} adjacent
    word bigrams by pointwise mutual information PMI = ln(N·c_xy /
    (c_x·c_y)) with a ≥{COLLOC_MIN_COUNT} count floor — the classic
    "new-york problem" detector that decides which token pairs a
    tokenizer or phrase index should fuse. ev_pmi_cooccur applies PMI
    to event types; this is the text-pipeline form, over the same
    tokenization as the Zipf/Heaps ops.

    Exact: all counts BIGINT; PMI's log argument is an exact integer
    ratio evaluated as one double chain, 9dp-rounded before ranking
    (ties then break on the bigram string, fully deterministic).

    Scale: the bigram slide is map-side; unigram and bigram tables
    shuffle once on their keys; the rank window runs on the ≥floor
    bigram survivors only."""
    docs = catalog.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("ts"),
    )
    uni = toks.select(F.explode("ts").alias("t")).groupBy("t").agg(
        F.count("*").cast("long").alias("c")
    )
    n_tok = uni.agg(F.sum("c").cast("long").alias("nn"))
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i - 1] as x, ts[i] as y))"
            )
        ).alias("b")
    ).select("b.x", "b.y").groupBy("x", "y").agg(
        F.count("*").cast("long").alias("cxy")
    ).filter(F.col("cxy") >= COLLOC_MIN_COUNT)
    ux = uni.select(F.col("t").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("t").alias("y"), F.col("c").alias("cy"))
    scored = (
        bg.join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "x", "y", "cxy", "cx", "cy",
            F.expr(
                "round(ln(cast(nn as double) * cxy"
                " / (cast(cx as double) * cy)), 9)"
            ).alias("pmi_r9"),
        )
    )
    wr = W.orderBy(F.desc("pmi_r9"), F.asc("x"), F.asc("y"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= COLLOC_TOP_N)
        .select(
            F.col("rk").cast("long").alias("rank"),
            F.col("x").alias("w1"),
            F.col("y").alias("w2"),
            F.col("cxy").alias("n_pair"),
            "cx",
            "cy",
            F.expr("round(pmi_r9, 6)").alias("pmi_r6"),
        )
        .orderBy("rank")
    )


ORACLE_COLLOCATION = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
           AS ts
  FROM documents),
uni AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks, LATERAL unnest(ts) AS u(t) GROUP BY 1),
n_tok AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM uni),
bg AS (
  SELECT ts[i] AS x, ts[i + 1] AS y, CAST(COUNT(*) AS BIGINT) AS cxy
  FROM toks, LATERAL unnest(generate_series(1, len(ts) - 1)) AS g(i)
  GROUP BY 1, 2 HAVING COUNT(*) >= {COLLOC_MIN_COUNT}),
scored AS (
  SELECT x, y, cxy, ux.c AS cx, uy.c AS cy,
         ROUND(ln(CAST(nn AS DOUBLE) * cxy
                  / (CAST(ux.c AS DOUBLE) * uy.c)), 9) AS pmi_r9
  FROM bg JOIN uni ux ON bg.x = ux.t JOIN uni uy ON bg.y = uy.t
  CROSS JOIN n_tok)
SELECT CAST(rk AS BIGINT) AS rank, x AS w1, y AS w2, cxy AS n_pair,
       cx, cy, ROUND(pmi_r9, 6) AS pmi_r6
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_r9 DESC, x, y) AS rk
      FROM scored)
WHERE rk <= {COLLOC_TOP_N} ORDER BY rank
"""


SPECS += [
    QuerySpec(
        "orders_revenue_bridge_monthly",
        orders_revenue_bridge_monthly,
        ORACLE_REVENUE_BRIDGE,
        ("orders", "finance", "drift"),
        doc="month-over-month revenue waterfall (new/churned/expansion/"
            "contraction customer lanes, exact-cents identity)",
    ),
    QuerySpec(
        "stats_cramer_von_mises_weekend",
        stats_cramer_von_mises_weekend,
        ORACLE_CVM_WEEKEND,
        ("stats", "events", "test"),
        doc="two-sample Cramer-von Mises weekend-vs-weekday value test "
            "on the tie-aware value-grain ECDF form (BIGINT D lanes)",
    ),
    QuerySpec(
        "stats_mood_median_weekend",
        stats_mood_median_weekend,
        ORACLE_MOOD_MEDIAN,
        ("stats", "events", "test"),
        doc="Mood's median test weekend-vs-weekday (value-grain exact "
            "grand median, decimal chi-square lanes)",
    ),
    QuerySpec(
        "ev_user_day_islands",
        ev_user_day_islands,
        ORACLE_DAY_ISLANDS,
        ("events", "window", "sessionization"),
        doc="gaps-and-islands consecutive-active-day streak histogram "
            "per user (day - row_number grouping idiom)",
    ),
    QuerySpec(
        "orders_abc_xyz_matrix",
        orders_abc_xyz_matrix,
        ORACLE_ABC_XYZ,
        ("orders", "finance", "inventory"),
        doc="ABC revenue classing x XYZ demand-variability matrix "
            "(integer cumshare and CV-band boundaries, spine months)",
    ),
    QuerySpec(
        "text_collocation_pmi",
        text_collocation_pmi,
        ORACLE_COLLOCATION,
        ("text", "nlp"),
        doc="top-20 adjacent-bigram collocations by 9dp-rounded PMI "
            "with a count floor (deterministic tie-break)",
    ),
]


# ==========================================================================
# Batch Z (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# Circular resultant + Rayleigh test on hour of day
# --------------------------------------------------------------------------

_HOUR_COS = (
    "1.0", "0.965925826289", "0.866025403784", "0.707106781187", "0.5",
    "0.258819045103", "0.0", "-0.258819045103", "-0.5", "-0.707106781187",
    "-0.866025403784", "-0.965925826289", "-1.0", "-0.965925826289",
    "-0.866025403784", "-0.707106781187", "-0.5", "-0.258819045103", "0.0",
    "0.258819045103", "0.5", "0.707106781187", "0.866025403784",
    "0.965925826289",
)
_HOUR_SIN = tuple(
    _HOUR_COS[(h - 6) % 24] if h != 18 else "-1.0" for h in range(24)
)


def _hour_trig_case(col: str, table: tuple) -> str:
    arms = " ".join(
        f"when {h} then cast({v} as decimal(14,12))"
        for h, v in enumerate(table)
    )
    return f"(case {col} {arms} end)"


def stats_circular_resultant_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of the hour-of-day load per event type:
    the mean resultant length R̄ (0 = perfectly spread clock, 1 = all
    mass at one hour) and the Rayleigh test z = N·R̄² against the
    asymptotic 5% bound −ln(0.05) — the PARAMETRIC effect-size
    companion to stats_kuiper_hour_uniformity: Kuiper answers "is the
    clock uniform", R̄ answers "how concentrated, on a 0..1 scale,
    and is that concentration significant".

    Determinism: cos/sin of the 24 clock angles are 12dp LITERAL
    lanes (no engine trig in the aggregate path), so C = Σ n_h·cos θ_h
    and S accumulate as exact DECIMALs; the only doubles are the final
    sqrt/divide chain, written identically in both engines.

    Scale: (type × 24) state after one map-side rollup."""
    hr = f"(({_US}) div 3600000000) % 24"
    by = (
        catalog.load(spark, sf_dir, "events")
        .select("event_type", F.expr(hr).cast("int").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cosc = _hour_trig_case("h", _HOUR_COS)
    sinc = _hour_trig_case("h", _HOUR_SIN)
    agg = by.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.expr(f"n * {cosc}")).alias("c"),
        F.sum(F.expr(f"n * {sinc}")).alias("s"),
    )
    r2 = (
        "(cast(c as double) * cast(c as double)"
        " + cast(s as double) * cast(s as double))"
    )
    rbar = f"sqrt({r2}) / nn"
    z = f"{r2} / nn"
    return agg.select(
        "event_type",
        F.col("nn").alias("n_events"),
        F.expr(f"round({rbar}, 6)").alias("rbar_r6"),
        F.expr(f"round({z}, 6)").alias("rayleigh_z_r6"),
        F.expr(f"({z}) > 2.995732273554").alias("reject_uniform_05"),
    ).orderBy("event_type")


def _circular_oracle() -> str:
    def case(table):
        arms = " ".join(
            f"WHEN {h} THEN CAST({v} AS DECIMAL(14,12))"
            for h, v in enumerate(table)
        )
        return f"(CASE h {arms} END)"

    r2 = (
        "(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)"
        " + CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    )
    return f"""
WITH byh AS (
  SELECT event_type,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nn,
         SUM(n * {case(_HOUR_COS)}) AS c,
         SUM(n * {case(_HOUR_SIN)}) AS s
  FROM byh GROUP BY 1)
SELECT event_type, nn AS n_events,
       ROUND(sqrt({r2}) / nn, 6) AS rbar_r6,
       ROUND({r2} / nn, 6) AS rayleigh_z_r6,
       ({r2} / nn) > 2.995732273554 AS reject_uniform_05
FROM agg ORDER BY event_type
"""


ORACLE_CIRCULAR_HOUR = _circular_oracle()


# --------------------------------------------------------------------------
# 4-4-5 fiscal calendar revenue rollup
# --------------------------------------------------------------------------

FISCAL_EPOCH_DAY = 8033  # 1991-12-30, the Monday on/before the feed start
# 4-4-5 pattern: cumulative week boundaries of the 12 periods
_F445_CUM = (4, 8, 13, 17, 21, 26, 30, 34, 39, 43, 47, 52)


def orders_fiscal_445_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue on the retail 4-4-5 FISCAL calendar: every order date
    maps by pure integer day arithmetic onto fiscal (year, period,
    quarter) — weeks of exactly 7 days anchored at the literal Monday
    epoch {FISCAL_EPOCH_DAY} (1991-12-30), 52-week years, periods of
    4/4/5 weeks — the comparable-weeks calendar that makes retail
    month-over-month comparisons honest (every period holds whole
    weeks, unlike the Gregorian rollups elsewhere in the registry).
    Week 53 of a leap cycle folds into period 12 by the % 52 year
    fold (documented convention).

    Exact: day → week → period is a literal CASE ladder on integers;
    revenue on cents lanes.

    Scale: map-side date math, one (fy, period) rollup."""
    day = "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    ladder = " ".join(
        f"when wiy < {b} then {i + 1}" for i, b in enumerate(_F445_CUM)
    )
    o = (
        catalog.load(spark, sf_dir, "orders")
        .select(
            F.expr(
                f"(({day}) - {FISCAL_EPOCH_DAY}) div 7"
            ).alias("wk"),
            F.expr(
                "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .filter(F.col("wk") >= 0)
        .select(
            F.expr("wk div 52").cast("long").alias("fy"),
            F.expr("wk % 52").alias("wiy"),
            "cents",
        )
        .select(
            "fy",
            F.expr(f"case {ladder} end").cast("long").alias("period"),
            "cents",
        )
    )
    return (
        o.groupBy("fy", "period")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr("cast(sum(cents) as double) / 100.0").alias("revenue"),
        )
        .select(
            "fy",
            "period",
            F.expr("(period + 2) div 3").cast("long").alias("fq"),
            "n_orders",
            "revenue",
        )
        .orderBy("fy", "period")
    )


def _f445_oracle() -> str:
    ladder = " ".join(
        f"WHEN wiy < {b} THEN {i + 1}" for i, b in enumerate(_F445_CUM)
    )
    return f"""
WITH o AS (
  SELECT (epoch_us(o_orderdate) // 86400000000 - {FISCAL_EPOCH_DAY}) // 7
           AS wk,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
f AS (
  SELECT CAST(wk // 52 AS BIGINT) AS fy, wk % 52 AS wiy, cents
  FROM o WHERE wk >= 0),
p AS (
  SELECT fy, CAST(CASE {ladder} END AS BIGINT) AS period, cents FROM f)
SELECT fy, period, CAST((period + 2) // 3 AS BIGINT) AS fq,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
FROM p GROUP BY 1, 2 ORDER BY fy, period
"""


ORACLE_FISCAL_445 = _f445_oracle()


# --------------------------------------------------------------------------
# Unicode script mix per source
# --------------------------------------------------------------------------

_SCRIPT_CLASS = (
    "case when cp < 65 then 'ascii_sym'"
    " when cp < 592 then 'latin'"
    " when cp >= 1024 and cp < 1280 then 'cyrillic'"
    " when cp >= 1536 and cp < 1792 then 'arabic'"
    " when cp >= 12352 and cp < 12544 then 'kana'"
    " when cp >= 19968 and cp < 40960 then 'cjk'"
    " else 'other' end"
)


def text_unicode_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script mix per source: every character classed by
    codepoint band (ASCII symbols/digits, Latin, Cyrillic, Arabic,
    Kana, CJK, other) and rolled into per-source shares — the
    language-coverage audit an LLM-ingest pipeline runs BEFORE
    language ID (script mix is model-free ground truth; a 'lang=en'
    source with 30% CJK codepoints is a mislabeling alarm). Bands
    are literal codepoint ranges, identical in both engines.

    Exact: pure integer codepoints (Spark ``ascii`` and DuckDB
    ``unicode`` both read the first codepoint of the 1-char substring)
    and count rationals.

    Scale: the char explode is the map-side slide posture; state
    collapses to (source × 7 classes)."""
    docs = catalog.load(spark, sf_dir, "documents")
    ch = docs.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(text)),"
                " i -> ascii(substring(text, i, 1)))"
            )
        ).alias("cp"),
    ).filter(F.col("cp") > 0)
    cls = ch.select("source", F.expr(_SCRIPT_CLASS).alias("script"))
    per = cls.groupBy("source", "script").agg(
        F.count("*").cast("long").alias("n_chars")
    )
    tot = per.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("t")
    )
    share = rat_round6_spark("n_chars", "t")
    return (
        per.join(tot, "source")
        .select("source", "script", "n_chars", F.expr(share).alias("share_r6"))
        .orderBy("source", "script")
    )


ORACLE_SCRIPT_MIX = f"""
WITH ch AS (
  SELECT source, unicode(substr(text, i, 1)) AS cp
  FROM documents,
       LATERAL unnest(generate_series(1, length(text))) AS u(i)),
cls AS (
  SELECT source, {_SCRIPT_CLASS} AS script
  FROM ch WHERE cp > 0),
per AS (
  SELECT source, script, CAST(COUNT(*) AS BIGINT) AS n_chars
  FROM cls GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t FROM per GROUP BY 1)
SELECT per.source, script, n_chars,
       {rat_round6_duck('n_chars', 't')} AS share_r6
FROM per JOIN tot ON per.source = tot.source
ORDER BY per.source, script
"""


# --------------------------------------------------------------------------
# Page's L trend test across ordered event types
# --------------------------------------------------------------------------


def stats_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for ordered alternatives: with each day a block
    (the Friedman design) and the event types ORDERED by their global
    total count ascending, L = Σ_j j·R_j asks whether the within-day
    count ranking consistently reproduces that global ordering —
    "is the type volume hierarchy stable day to day" as a TEST, where
    Friedman only asks "do the types differ at all". A low z reads as
    rank churn between days (volume leadership swaps).

    Exact: within-day average ranks use the Friedman r₂ = 2·RANK +
    ties − 1 integer lane, so 2L is BIGINT; the global ordering index
    breaks ties lexicographically; E[L] and Var[L] are the no-ties
    closed forms (documented approximation when in-day ties occur);
    one-sided 5% normal critical 1.644854.

    Scale: (day × type) dense grid and a type-count rollup — both
    calendar×alphabet-bounded after one shuffle."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(
        F.expr(day).alias("day"), "event_type"
    )
    cells = ev.groupBy("day", "event_type").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=True)  # dense grid + global order + nk
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(cells, ["day", "event_type"], "left")
        .select(
            "day", "event_type",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    r2 = dense.select(
        "day",
        "event_type",
        (
            F.rank().over(W.partitionBy("day").orderBy("c")) * 2
            + F.count("*").over(W.partitionBy("day", "c"))
            - 1
        ).cast("long").alias("r2"),
    )
    rs = r2.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("rsum2")
    )
    gorder = (
        dense.groupBy("event_type")
        .agg(F.sum("c").cast("long").alias("tot"))
        .select(
            "event_type",
            F.row_number()
            .over(W.orderBy("tot", "event_type"))
            .cast("long")
            .alias("j"),
        )
    )
    nk = days.agg(F.count("*").cast("long").alias("n")).crossJoin(
        types.agg(F.count("*").cast("long").alias("k"))
    )
    l2 = (
        rs.join(gorder, "event_type")
        .agg(F.sum(F.expr("j * rsum2")).cast("long").alias("l2"))
        .crossJoin(F.broadcast(nk))
    )
    ez = "cast(n as double) * k * (k + 1) * (k + 1) / 4.0"
    varl = (
        "cast(n as double) * k * k * (k + 1) * (k * k - 1) / 144.0"
    )
    z = f"(cast(l2 as double) / 2.0 - {ez}) / sqrt({varl})"
    return l2.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_types"),
        "l2",
        F.expr(
            f"case when k < 2 or n = 0 then null else round({z}, 6) end"
        ).alias("z_r6"),
        F.expr(
            f"case when k < 2 or n = 0 then null"
            f" else ({z}) > 1.644854 end"
        ).alias("reject_05"),
    )


ORACLE_PAGE_TREND = f"""
WITH ev AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day, event_type FROM events),
cells AS (
  SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM cells),
types AS (SELECT DISTINCT event_type FROM cells),
dense AS (
  SELECT d.day, t.event_type, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM days d CROSS JOIN types t
  LEFT JOIN cells c ON c.day = d.day AND c.event_type = t.event_type),
r2 AS (
  SELECT day, event_type,
         CAST(RANK() OVER (PARTITION BY day ORDER BY c) * 2
              + COUNT(*) OVER (PARTITION BY day, c) - 1 AS BIGINT) AS r2
  FROM dense),
rs AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS rsum2
  FROM r2 GROUP BY 1),
gorder AS (
  SELECT event_type,
         CAST(ROW_NUMBER() OVER (ORDER BY tot, event_type) AS BIGINT)
           AS j
  FROM (SELECT event_type, CAST(SUM(c) AS BIGINT) AS tot
        FROM dense GROUP BY 1)),
nk AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM types) AS k),
l2t AS (
  SELECT CAST(SUM(j * rsum2) AS BIGINT) AS l2
  FROM rs JOIN gorder ON rs.event_type = gorder.event_type)
SELECT n AS n_days, k AS n_types, l2,
       CASE WHEN k < 2 OR n = 0 THEN NULL ELSE
         ROUND((CAST(l2 AS DOUBLE) / 2.0
                - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0)
               / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1)
                      * (k * k - 1) / 144.0), 6) END AS z_r6,
       CASE WHEN k < 2 OR n = 0 THEN NULL ELSE
         ((CAST(l2 AS DOUBLE) / 2.0
           - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0)
          / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1)
                 * (k * k - 1) / 144.0)) > 1.644854 END AS reject_05
FROM l2t CROSS JOIN nk
"""


# --------------------------------------------------------------------------
# Peak session concurrency per day (minute-grain sweep line)
# --------------------------------------------------------------------------

SESSION_GAP_MIN = 30  # minutes; the established 30m sessionization gap


def ev_session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENT sessions per day: 30-minute-gap sessions per
    user swept at minute grain (+1 at the session's first minute, −1
    after its last) and accumulated along the calendar — the sizing
    number ("how many simultaneous live sessions must we hold") that
    ev_hourly_session_load's per-hour session COUNT over-states
    (sessions touching an hour are not concurrent within it). Ties on
    the peak break to the earliest minute.

    Exact: integer minute arithmetic throughout; the sweep is a
    cumulative sum over the minute spine.

    Scale: sessionization is the established per-user lag window; the
    sweep state is the calendar-bounded minute spine (1440·days rows
    — never the event stream) in ONE ordered pass, then a day
    rollup."""
    mn = f"({_US}) div 60000000"
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", F.expr(mn).alias("m")
    )
    wl = W.partitionBy("user_id").orderBy("m")
    sess = (
        ev.withColumn("prev", F.lag("m").over(wl))
        .withColumn(
            "new_sess",
            F.expr(
                f"case when prev is null or m - prev > {SESSION_GAP_MIN}"
                f" then 1 else 0 end"
            ),
        )
        .withColumn(
            "sid",
            F.sum("new_sess").over(
                wl.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
    )
    deltas = sess.select(F.col("m0").alias("m"), F.lit(1).alias("d")).union(
        sess.select((F.col("m1") + 1).alias("m"), F.lit(-1).alias("d"))
    ).groupBy("m").agg(F.sum("d").cast("long").alias("d"))
    span = deltas.agg(F.min("m").alias("mm0"), F.max("m").alias("mm1"))
    spine = (
        span.select(F.explode(F.expr("sequence(mm0, mm1)")).alias("m"))
        .join(deltas, "m", "left")
        .select("m", F.coalesce("d", F.lit(0)).cast("long").alias("d"))
    )
    ws = W.orderBy("m").rowsBetween(W.unboundedPreceding, W.currentRow)
    conc = spine.select(
        "m",
        F.sum("d").over(ws).alias("conc"),
        F.expr(f"m div 1440").alias("day"),
    )
    per = conc.groupBy("day").agg(F.max("conc").cast("long").alias("peak"))
    peak_min = (
        conc.join(per, "day")
        .filter(F.col("conc") == F.col("peak"))
        .groupBy("day", "peak")
        .agg(F.min("m").alias("peak_minute"))
    )
    return peak_min.select(
        F.col("day").alias("epoch_day"),
        "peak",
        F.expr("peak_minute % 1440").cast("long").alias("minute_of_day"),
    ).orderBy("epoch_day")


ORACLE_PEAK_CONCURRENCY = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS m FROM events),
lagd AS (
  SELECT user_id, m,
         LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev
  FROM ev),
marked AS (
  SELECT user_id, m,
         CASE WHEN prev IS NULL OR m - prev > {SESSION_GAP_MIN}
              THEN 1 ELSE 0 END AS new_sess
  FROM lagd),
sid AS (
  SELECT user_id, m,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY m
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
sess AS (
  SELECT user_id, sid, MIN(m) AS m0, MAX(m) AS m1
  FROM sid GROUP BY 1, 2),
deltas AS (
  SELECT m, CAST(SUM(d) AS BIGINT) AS d FROM (
    SELECT m0 AS m, 1 AS d FROM sess
    UNION ALL SELECT m1 + 1 AS m, -1 AS d FROM sess)
  GROUP BY 1),
spine AS (
  SELECT g.m, CAST(COALESCE(deltas.d, 0) AS BIGINT) AS d
  FROM (SELECT unnest(generate_series(MIN(m), MAX(m))) AS m
        FROM deltas) g
  LEFT JOIN deltas ON g.m = deltas.m),
conc AS (
  SELECT m, SUM(d) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS conc,
         m // 1440 AS day
  FROM spine),
per AS (
  SELECT day, CAST(MAX(conc) AS BIGINT) AS peak FROM conc GROUP BY 1)
SELECT conc.day AS epoch_day, peak,
       CAST(MIN(m) % 1440 AS BIGINT) AS minute_of_day
FROM conc JOIN per ON conc.day = per.day AND conc.conc = per.peak
GROUP BY 1, 2 ORDER BY epoch_day
"""


# --------------------------------------------------------------------------
# Capacity-shed what-if at the p90 hourly cap
# --------------------------------------------------------------------------


def ev_capacity_shed_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic capacity what-if: cap every hour at the feed's
    own exact p90 hourly load and read which event types lose how
    much — overflow per hour is max(0, load − cap) allocated
    PROPORTIONALLY to the types active in that hour (the fair-queue
    assumption, documented). The planning readout behind
    ev_slo_burn_rate: burn tells you when you exceeded; this prices
    who pays if you clamp.

    Exact: the cap is the k = ⌈0.9·H⌉ order statistic of the ≤
    calendar-bounded hourly loads (tiny rank window); per-(hour,
    type) shed shares are one division each, 9dp-rounded into
    DECIMAL sums.

    Scale: (hour × type) state after one shuffle; everything else is
    hour-grain."""
    return assemble_capacity_shed(
        capacity_shed_grain(catalog.load(spark, sf_dir, "events"))
    )


def capacity_shed_grain(events: DataFrame) -> DataFrame:
    """The (hr, event_type, c) hourly load ledger, shared by the batch op
    and streaming/jobs.run_capacity_shed_stream."""
    hr = f"({_US}) div 3600000000"
    ev = events.select(F.expr(hr).alias("hr"), "event_type")
    return ev.groupBy("hr", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )


def assemble_capacity_shed(ht: DataFrame) -> DataFrame:
    """Shed readout over the (hr, event_type, c) hour-grain frame —
    the shared contract between the batch op and
    streaming/jobs.run_capacity_shed_stream (calendar×alphabet-bounded
    complete-mode state), so the batch oracle transitively gates the
    stream."""
    ht = ht.localCheckpoint(eager=True)  # hourly totals + allocation
    hh = ht.groupBy("hr").agg(F.sum("c").cast("long").alias("load"))
    wr = W.orderBy("load", "hr")
    nh = hh.agg(F.count("*").cast("long").alias("h"))
    cap = (
        hh.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(nh))
        .filter(F.expr("rk = (h * 90 + 99) div 100"))
        .select(F.col("load").alias("cap"))
    )
    shed = (
        hh.crossJoin(F.broadcast(cap))
        .select(
            "hr", "load", "cap",
            F.greatest(F.expr("load - cap"), F.lit(0)).alias("over"),
        )
    )
    alloc = ht.join(shed, "hr").select(
        "event_type",
        "c",
        F.expr(
            "cast(round(cast(over as double) * c / load, 9)"
            " as decimal(25,9))"
        ).alias("shed_t"),
    )
    tot = alloc.agg(
        F.sum("shed_t").alias("shed_all"),
        F.sum("c").cast("long").alias("n_all"),
    )
    return (
        alloc.groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.sum("shed_t").alias("shed_est"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(cap))
        .select(
            "event_type",
            "n_events",
            F.col("cap").alias("hourly_cap"),
            F.expr("round(cast(shed_est as double), 6)").alias(
                "shed_est_r6"
            ),
            F.expr(
                "case when cast(shed_all as double) = 0 then null else"
                " round(cast(shed_est as double)"
                " / cast(shed_all as double), 6) end"
            ).alias("shed_mix_r6"),
        )
        .orderBy("event_type")
    )


ORACLE_CAPACITY_SHED = f"""
WITH ev AS (
  SELECT epoch_us(ts) // 3600000000 AS hr, event_type FROM events),
ht AS (
  SELECT hr, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
hh AS (SELECT hr, CAST(SUM(c) AS BIGINT) AS load FROM ht GROUP BY 1),
nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS h FROM hh),
cap AS (
  SELECT load AS cap FROM (
    SELECT load, ROW_NUMBER() OVER (ORDER BY load, hr) AS rk FROM hh)
  CROSS JOIN nh WHERE rk = (h * 90 + 99) // 100),
shed AS (
  SELECT hr, load, cap, GREATEST(load - cap, 0) AS over
  FROM hh CROSS JOIN cap),
alloc AS (
  SELECT event_type, c,
         CAST(ROUND(CAST(over AS DOUBLE) * c / load, 9)
              AS DECIMAL(25,9)) AS shed_t
  FROM ht JOIN shed ON ht.hr = shed.hr),
tot AS (
  SELECT SUM(shed_t) AS shed_all, CAST(SUM(c) AS BIGINT) AS n_all
  FROM alloc)
SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
       MAX(cap) AS hourly_cap,
       ROUND(CAST(SUM(shed_t) AS DOUBLE), 6) AS shed_est_r6,
       CASE WHEN CAST(MAX(shed_all) AS DOUBLE) = 0 THEN NULL ELSE
         ROUND(CAST(SUM(shed_t) AS DOUBLE)
               / CAST(MAX(shed_all) AS DOUBLE), 6) END AS shed_mix_r6
FROM alloc CROSS JOIN tot CROSS JOIN cap
GROUP BY event_type ORDER BY event_type
"""


SPECS += [
    QuerySpec(
        "stats_circular_resultant_hour",
        stats_circular_resultant_hour,
        ORACLE_CIRCULAR_HOUR,
        ("stats", "events", "test"),
        doc="circular mean resultant length and Rayleigh test of "
            "hour-of-day load (12dp literal trig lanes, decimal C/S sums)",
    ),
    QuerySpec(
        "orders_fiscal_445_calendar",
        orders_fiscal_445_calendar,
        ORACLE_FISCAL_445,
        ("orders", "finance", "calendar"),
        doc="revenue on the retail 4-4-5 fiscal calendar (integer day "
            "-> week -> period ladder from a literal Monday epoch)",
    ),
    QuerySpec(
        "text_unicode_script_mix",
        text_unicode_script_mix,
        ORACLE_SCRIPT_MIX,
        ("text", "quality", "audit"),
        doc="per-source Unicode script-band character mix (literal "
            "codepoint ranges, exact count rationals)",
    ),
    QuerySpec(
        "stats_page_trend_test",
        stats_page_trend_test,
        ORACLE_PAGE_TREND,
        ("stats", "events", "test"),
        doc="Page's L ordered-alternative test: is the daily type-volume "
            "ranking stable (Friedman r2 lanes, global-order index)",
    ),
    QuerySpec(
        "ev_session_peak_concurrency",
        ev_session_peak_concurrency,
        ORACLE_PEAK_CONCURRENCY,
        ("events", "sessionization", "capacity"),
        doc="peak concurrent 30m-gap sessions per day via a minute-grain "
            "sweep line over the calendar spine",
    ),
    QuerySpec(
        "ev_capacity_shed_whatif",
        ev_capacity_shed_whatif,
        ORACLE_CAPACITY_SHED,
        ("events", "capacity", "whatif"),
        doc="p90-cap load-shedding what-if: proportional per-type shed "
            "estimate (exact p90 order statistic, 9dp decimal shares)",
    ),
]


# ==========================================================================
# Batch AA (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# CSV escape/quote round-trip certificate
# --------------------------------------------------------------------------


def scalar_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV escape/quote round-trip certificate over the documents
    table: every row serializes through ``to_csv`` (commas, quotes
    and embedded delimiters escaped) and re-parses through
    ``from_csv`` with the explicit schema; the readout counts rows
    whose every field survived BIT-EXACTLY plus an md5 mass over the
    recovered text — the function-surface proof that the engine's CSV
    writer and reader agree with each other on quoting semantics
    (the D6 JSON round-trip's CSV sibling). The oracle states the
    IDENTITY directly on the source rows: if the round trip is
    lossless the certificate equals the trivial aggregate, and any
    quoting asymmetry hash-mismatches.

    Scale: map-only expression work; one scalar aggregate."""
    docs = catalog.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    h = sql_md5_long_spark("rt.text")
    rt = docs.select(
        "doc_id", "text", "lang", "source",
        F.expr(
            "from_csv(to_csv(struct(doc_id, text, lang, source)),"
            " 'doc_id bigint, text string, lang string, source string')"
        ).alias("rt"),
    )
    return rt.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.expr(
                "cast(rt.doc_id = doc_id and rt.text = text"
                " and rt.lang = lang and rt.source = source as long)"
            )
        ).cast("long").alias("n_roundtrip_exact"),
        F.sum(F.expr(f"cast(({h}) % 1000000007 as decimal(38,0))")).alias(
            "md5_mass"
        ),
    ).select(
        "n_docs",
        "n_roundtrip_exact",
        F.expr("cast(md5_mass as double)").alias("md5_mass_d"),
    )


def _csv_rt_oracle() -> str:
    h = sql_md5_long_duck("text")
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_roundtrip_exact,
       CAST(SUM(CAST(({h}) % 1000000007 AS DECIMAL(38,0))) AS DOUBLE)
         AS md5_mass_d
FROM documents
"""


ORACLE_CSV_ROUNDTRIP = _csv_rt_oracle()


# --------------------------------------------------------------------------
# Order line-count dispersion
# --------------------------------------------------------------------------


def orders_line_count_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion of the lines-per-order distribution: the index of
    dispersion D = Var/Mean of line counts (Poisson ⇒ 1; the fixture's
    order generator is the question) with the exact min/max/mean —
    the one-number "is basket size memoryless" readout that prices
    whether per-order fan-out can be modeled as Poisson in capacity
    math downstream (Little's-law audit, shed what-if).

    Exact: per-order counts are integers; D = (nΣx² − S²)/(nS) and
    the mean read through the qrem split.

    Scale: one (orderkey) rollup, one scalar aggregate."""
    lc = (
        catalog.load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("long").alias("x"))
    )
    agg = lc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
        F.min("x").alias("min_lines"),
        F.max("x").alias("max_lines"),
    )
    return agg.select(
        F.col("n").alias("n_orders"),
        "min_lines",
        "max_lines",
        F.expr(qrem_round6_spark("s", "n")).alias("mean_lines_r6"),
        F.expr(qrem_round6_spark("n * s2 - s * s", "n * s")).alias(
            "dispersion_r6"
        ),
    )


ORACLE_LINE_DISPERSION = f"""
WITH lc AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
  FROM lineitem GROUP BY 1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         MIN(x) AS min_lines, MAX(x) AS max_lines
  FROM lc)
SELECT n AS n_orders, min_lines, max_lines,
       {qrem_round6_duck('s', 'n')} AS mean_lines_r6,
       {qrem_round6_duck('n * s2 - s * s', 'n * s')} AS dispersion_r6
FROM agg
"""


# --------------------------------------------------------------------------
# Per-dimension variance participation ratio
# --------------------------------------------------------------------------


def emb_dim_variance_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dimensionality of the embedding space WITHOUT an
    eigendecomposition: the participation ratio PR = (Σλ)²/Σλ² over
    the per-DIMENSION variances (the diagonal of the covariance — a
    documented proxy that upper-bounds the spectral PR when axes are
    correlated), plus the top dimension's variance share. PR ≈ 64
    means isotropic axes; PR ≪ 64 says a few coordinates carry the
    geometry — pricing the same storage question as the PQ/prefix-dim
    sweeps from the variance side, and the axis-aligned complement of
    emb_intrinsic_dim_twonn's metric estimate.

    Exact: per-dim n·Σq² − (Σq)² on DECIMAL(38,0) lanes from BIGINT
    grid sums; each λ rescales to unit² and 9dp-rounds into DECIMAL
    sums before the two final double divisions.

    Scale: one (dim)-grain rollup — 64 cells — after the map-side
    explode."""
    e = catalog.load(spark, sf_dir, "embeddings").select(
        F.posexplode(F.expr(_EMB_Q_SQL)).alias("d", "q")
    )
    per = e.groupBy("d").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.expr("cast(q as decimal(38,0)) * q")).alias("ssq"),
    )
    lam = (
        "round(cast(n * ssq - cast(s as decimal(38,0)) * s as double)"
        " / (cast(n as double) * n * 1099511627776.0), 9)"
    )
    agg = per.select(
        "n",
        F.expr(f"cast({lam} as decimal(25,9))").alias("lam"),
    ).agg(
        F.max("n").alias("n_vectors"),
        F.count("*").cast("long").alias("n_dims"),
        F.sum("lam").alias("sl"),
        F.sum(
            F.expr(
                "cast(round(cast(lam as double) * cast(lam as double), 9)"
                " as decimal(25,9))"
            )
        ).alias("sl2"),
        F.max("lam").alias("lmax"),
    )
    return agg.select(
        "n_vectors",
        "n_dims",
        F.expr("round(cast(sl as double), 6)").alias("var_total_r6"),
        F.expr(
            "case when cast(sl2 as double) <= 0 then null else"
            " round(cast(sl as double) * cast(sl as double)"
            " / cast(sl2 as double), 6) end"
        ).alias("pr_effective_dims_r6"),
        F.expr(
            "case when cast(sl as double) <= 0 then null else"
            " round(cast(lmax as double) / cast(sl as double), 6) end"
        ).alias("top_dim_share_r6"),
    )


ORACLE_DIM_PARTICIPATION = """
WITH e AS (
  SELECT d.d,
         CAST(TRUNC(CAST(embedding[d.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS d) d),
per AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS s,
         SUM(CAST(q AS DECIMAL(38,0)) * q) AS ssq
  FROM e GROUP BY 1),
lam AS (
  SELECT n,
         CAST(ROUND(CAST(n * ssq - CAST(s AS DECIMAL(38,0)) * s
                         AS DOUBLE)
                    / (CAST(n AS DOUBLE) * n * 1099511627776.0), 9)
              AS DECIMAL(25,9)) AS lam
  FROM per),
agg AS (
  SELECT MAX(n) AS n_vectors, CAST(COUNT(*) AS BIGINT) AS n_dims,
         SUM(lam) AS sl,
         SUM(CAST(ROUND(CAST(lam AS DOUBLE) * CAST(lam AS DOUBLE), 9)
                  AS DECIMAL(25,9))) AS sl2,
         MAX(lam) AS lmax
  FROM lam)
SELECT n_vectors, n_dims,
       ROUND(CAST(sl AS DOUBLE), 6) AS var_total_r6,
       CASE WHEN CAST(sl2 AS DOUBLE) <= 0 THEN NULL ELSE
         ROUND(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
               / CAST(sl2 AS DOUBLE), 6) END AS pr_effective_dims_r6,
       CASE WHEN CAST(sl AS DOUBLE) <= 0 THEN NULL ELSE
         ROUND(CAST(lmax AS DOUBLE) / CAST(sl AS DOUBLE), 6) END
         AS top_dim_share_r6
FROM agg
"""


# --------------------------------------------------------------------------
# Day-of-week x hour-of-day independence test
# --------------------------------------------------------------------------


def stats_dow_hour_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence test of the (day-of-week × hour-of-day) load
    grid: χ² over the 7×24 contingency table — "is the clock profile
    the SAME every weekday" as a single test statistic, the
    hypothesis-test companion to ev_dow_hour_heatmap's descriptive
    grid (and the joint view the marginal Kuiper/Rayleigh hour tests
    cannot see: a weekday-vs-weekend clock shift is invisible to
    either marginal alone).

    Exact: the classic χ² = N·(Σ_cells o²/(r·c)) − N identity runs on
    per-cell 9dp-rounded divisions into DECIMAL sums (o, r, c all
    BIGINT); df = (7−1)(24−1) = 138 with the literal 5% critical
    166.415 (χ²₁₃₈).

    Scale: 7×24 state after one map-side rollup."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(
        F.expr(f"(({day}) + 3) % 7").cast("int").alias("dw"),
        F.expr(f"(({_US}) div 3600000000) % 24").cast("int").alias("h"),
    )
    cells = ev.groupBy("dw", "h").agg(F.count("*").cast("long").alias("o"))
    rows_ = cells.groupBy("dw").agg(F.sum("o").cast("long").alias("r"))
    cols = cells.groupBy("h").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("nn"))
    term = (
        "cast(round(cast(o as double) * o / (cast(r as double) * c), 9)"
        " as decimal(25,9))"
    )
    agg = (
        cells.join(F.broadcast(rows_), "dw")
        .join(F.broadcast(cols), "h")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("nn").alias("nn"),
            F.countDistinct("dw").cast("long").alias("n_dw"),
            F.countDistinct("h").cast("long").alias("n_h"),
            F.sum(F.expr(term)).alias("t"),
        )
    )
    chi = "cast(nn as double) * cast(t as double) - cast(nn as double)"
    return agg.select(
        F.col("nn").alias("n_events"),
        "n_dw",
        "n_h",
        F.expr(f"round({chi}, 6)").alias("chi2_r6"),
        F.expr("cast((n_dw - 1) * (n_h - 1) as long)").alias("df"),
        F.expr(
            f"case when n_dw < 2 or n_h < 2 then null"
            f" else ({chi}) > 166.415 end"
        ).alias("reject_independence_05"),
    )


ORACLE_DOW_HOUR_INDEP = f"""
WITH ev AS (
  SELECT CAST(((epoch_us(ts) // {_DAY_US}) + 3) % 7 AS INT) AS dw,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS h
  FROM events),
cells AS (
  SELECT dw, h, CAST(COUNT(*) AS BIGINT) AS o FROM ev GROUP BY 1, 2),
rows_ AS (SELECT dw, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cols AS (SELECT h, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
agg AS (
  SELECT MAX(nn) AS nn,
         CAST(COUNT(DISTINCT cells.dw) AS BIGINT) AS n_dw,
         CAST(COUNT(DISTINCT cells.h) AS BIGINT) AS n_h,
         SUM(CAST(ROUND(CAST(o AS DOUBLE) * o
                        / (CAST(r AS DOUBLE) * c), 9)
                  AS DECIMAL(25,9))) AS t
  FROM cells JOIN rows_ ON cells.dw = rows_.dw
  JOIN cols ON cells.h = cols.h CROSS JOIN tot)
SELECT nn AS n_events, n_dw, n_h,
       ROUND(CAST(nn AS DOUBLE) * CAST(t AS DOUBLE)
             - CAST(nn AS DOUBLE), 6) AS chi2_r6,
       CAST((n_dw - 1) * (n_h - 1) AS BIGINT) AS df,
       CASE WHEN n_dw < 2 OR n_h < 2 THEN NULL ELSE
         (CAST(nn AS DOUBLE) * CAST(t AS DOUBLE)
          - CAST(nn AS DOUBLE)) > 166.415 END
         AS reject_independence_05
FROM agg
"""


SPECS += [
    QuerySpec(
        "scalar_csv_roundtrip",
        scalar_csv_roundtrip,
        ORACLE_CSV_ROUNDTRIP,
        ("scalar", "sources", "certificate"),
        doc="to_csv/from_csv escape round-trip identity certificate over "
            "documents (oracle states the lossless identity directly)",
    ),
    QuerySpec(
        "orders_line_count_dispersion",
        orders_line_count_dispersion,
        ORACLE_LINE_DISPERSION,
        ("orders", "stats"),
        doc="index of dispersion of lines-per-order (exact qrem "
            "rationals; Poisson reads 1)",
    ),
    QuerySpec(
        "emb_dim_variance_participation",
        emb_dim_variance_participation,
        ORACLE_DIM_PARTICIPATION,
        ("embedding", "audit", "metric"),
        doc="participation-ratio effective dimensionality from per-dim "
            "variances (decimal lambda lanes, no eigendecomposition)",
    ),
    QuerySpec(
        "stats_dow_hour_independence",
        stats_dow_hour_independence,
        ORACLE_DOW_HOUR_INDEP,
        ("stats", "events", "test"),
        doc="chi-square independence of the 7x24 day-of-week x hour "
            "load grid (9dp decimal cell lanes, literal chi2_138 critical)",
    ),
]


# ==========================================================================
# Batch AB (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# CR-k concentration ratios by market segment
# --------------------------------------------------------------------------

CRK_KS = (4, 8, 20)


def orders_crk_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration ratios CR4/CR8/CR20 of customer revenue within
    each market segment — the antitrust-style "top-k buyers hold x%
    of the book" readout that orders_hhi_concentration (sum of
    squared shares) compresses into one number and the whale-watcher
    actually asks for as a table.

    Exact: cents lanes, per-segment revenue rank windows (customers
    per segment — the established pareto posture), CR shares through
    the qrem split; segments with fewer than k customers read their
    true total (CR = 1).

    Scale: one (custkey) rollup, a broadcast dimension join, one
    per-segment rank window, and a 5×3 readout."""
    o = catalog.load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "cents"
        ),
    )
    cust = catalog.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    per = (
        o.groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
        .join(F.broadcast(cust), "o_custkey")
    )
    wr = W.partitionBy("c_mktsegment").orderBy(
        F.desc("cents"), F.asc("o_custkey")
    )
    rk = per.withColumn("rk", F.row_number().over(wr))
    kg = spark.createDataFrame([(int(k),) for k in CRK_KS], "k long")
    topk = (
        rk.crossJoin(F.broadcast(kg))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("c_mktsegment", "k")
        .agg(F.sum("cents").cast("long").alias("top_cents"))
    )
    tot = per.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("t"),
    )
    share = qrem_round6_spark("top_cents", "t")
    return (
        topk.join(tot, "c_mktsegment")
        .select(
            "c_mktsegment",
            "k",
            "n_customers",
            F.expr(share).alias("crk_share_r6"),
        )
        .orderBy("c_mktsegment", "k")
    )


def _crk_oracle() -> str:
    ks = ", ".join(str(k) for k in CRK_KS)
    return f"""
WITH o AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1),
per AS (
  SELECT o.o_custkey, cents, c_mktsegment
  FROM o JOIN customer ON o.o_custkey = customer.c_custkey),
rk AS (
  SELECT c_mktsegment, cents,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY cents DESC, o_custkey) AS rk
  FROM per),
kg AS (SELECT unnest([{ks}]) AS k),
topk AS (
  SELECT c_mktsegment, k, CAST(SUM(cents) AS BIGINT) AS top_cents
  FROM rk CROSS JOIN kg WHERE rk <= k GROUP BY 1, 2),
tot AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS t
  FROM per GROUP BY 1)
SELECT topk.c_mktsegment, CAST(k AS BIGINT) AS k, n_customers,
       {qrem_round6_duck('top_cents', 't')} AS crk_share_r6
FROM topk JOIN tot ON topk.c_mktsegment = tot.c_mktsegment
ORDER BY topk.c_mktsegment, k
"""


ORACLE_CRK = _crk_oracle()


# --------------------------------------------------------------------------
# Rescaled-range (R/S) Hurst estimate
# --------------------------------------------------------------------------

RS_BLOCK_SIZES = (4, 8, 16)
# ln of the block sizes, 12dp literals (the OLS x-grid)
_RS_LN = ("1.386294361120", "2.079441542148", "2.772588722240")


def ev_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily volume by Mandelbrot's RESCALED-RANGE
    method: for block sizes m ∈ {RS_BLOCK_SIZES}, each complete
    m-day block yields R/S = (max−min of within-block cumulative
    deviations) / (block std); H is the log-log OLS slope of the
    mean R/S against m. The classical estimator next to
    ev_hurst_variance_plot's variance-time method — two independent
    estimators agreeing near 0.5 is the actual evidence the feed has
    no long-range dependence.

    Exact: within-block deviations are division-free (W_k = m·Σ_{{≤k}}x
    − k·S_b is BIGINT, range(W)/m the true R), block variance m·Σx² −
    S² a BIGINT; each block's R/S is ONE double chain 9dp-rounded
    into the per-m DECIMAL mean; constant blocks (S = 0) are dropped
    (documented). The OLS runs on the 3-point literal ln-m grid.

    Scale: everything after the day-grain shuffle is calendar-
    bounded; blocks live in per-m windows over ≤ 3650 rows."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(F.expr(day).alias("d"))
    cnt = ev.groupBy("d").agg(F.count("*").cast("long").alias("x"))
    spine = (
        cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.expr("sequence(d0, d1)")).alias("d"))
        .join(cnt, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
        .withColumn("i", F.row_number().over(W.orderBy("d")) - 1)
        .localCheckpoint(eager=True)  # reused per block size
    )
    mg = spark.createDataFrame(
        [(int(m),) for m in RS_BLOCK_SIZES], "m long"
    )
    blk = spine.crossJoin(F.broadcast(mg)).select(
        "m", F.expr("i div m").alias("b"), F.expr("i % m").alias("k"), "x"
    )
    wb = (
        W.partitionBy("m", "b")
        .orderBy("k")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = blk.select(
        "m", "b", "k", "x", F.sum("x").over(wb).alias("cx")
    )
    per_b = cum.groupBy("m", "b").agg(
        F.count("*").cast("long").alias("nb"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
    )
    # W_k = m*cx - (k+1)*s needs the block total s: second pass joins it
    w2 = (
        cum.join(
            per_b.select("m", "b", "s", "nb", "s2"), ["m", "b"]
        )
        .groupBy("m", "b", "nb", "s", "s2")
        .agg(
            F.max(F.expr("m * cx - (k + 1) * s")).alias("wmax"),
            F.min(F.expr("m * cx - (k + 1) * s")).alias("wmin"),
        )
        .filter((F.col("nb") == F.col("m")) & (F.expr("m * s2 - s * s") > 0))
    )
    rs = "((wmax - wmin) / sqrt(cast(m * s2 - s * s as double)))"
    per_m = w2.select(
        "m",
        F.expr(f"cast(round({rs}, 9) as decimal(25,9))").alias("rs9"),
    ).groupBy("m").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.expr("round(cast(sum(rs9) as double) / count(*), 9)").alias(
            "mean_rs"
        ),
    )
    lnm = (
        "case m when 4 then " + _RS_LN[0] + " when 8 then " + _RS_LN[1]
        + " when 16 then " + _RS_LN[2] + " end"
    )
    # OLS sufficient statistics accumulate as DECIMALs (lx is a decimal
    # literal; the ly/lxy doubles 9dp-round before summing) so the
    # 3-term sums are order-free; doubles return only in the slope
    pts = per_m.filter(F.col("mean_rs") > 0).select(
        F.expr(lnm).alias("lx"),
        F.expr(
            "cast(round(ln(mean_rs), 9) as decimal(25,9))"
        ).alias("ly9"),
        F.expr(
            "cast(round(cast(" + lnm + " as double) * ln(mean_rs), 9)"
            " as decimal(25,9))"
        ).alias("lxy9"),
    ).localCheckpoint(eager=True)
    ols = pts.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("lx").alias("sx"),
        F.sum("ly9").alias("sy"),
        F.sum(F.expr("lx * lx")).alias("sxx"),
        F.sum("lxy9").alias("sxy"),
    )
    h = (
        "case when np < 2 then null else round("
        "(np * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
        " / (np * cast(sxx as double)"
        " - cast(sx as double) * cast(sx as double)), 6) end"
    )
    wide = per_m.groupBy().pivot("m", [4, 8, 16]).agg(
        F.first(F.expr("round(mean_rs, 6)"))
    )
    return (
        ols.crossJoin(
            wide.select(
                F.col("4").alias("mean_rs_m4_r6"),
                F.col("8").alias("mean_rs_m8_r6"),
                F.col("16").alias("mean_rs_m16_r6"),
            )
        )
        .select(
            "mean_rs_m4_r6",
            "mean_rs_m8_r6",
            "mean_rs_m16_r6",
            F.expr(h).alias("hurst_rs_r6"),
        )
    )


def _rs_oracle() -> str:
    lnm = (
        "CASE m WHEN 4 THEN " + _RS_LN[0] + " WHEN 8 THEN " + _RS_LN[1]
        + " WHEN 16 THEN " + _RS_LN[2] + " END"
    )
    rs = "((wmax - wmin) / sqrt(CAST(m * s2 - s * s AS DOUBLE)))"
    return f"""
WITH ev AS (SELECT epoch_us(ts) // {_DAY_US} AS d FROM events),
cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1),
spine AS (
  SELECT g.d, CAST(COALESCE(cnt.x, 0) AS BIGINT) AS x,
         ROW_NUMBER() OVER (ORDER BY g.d) - 1 AS i
  FROM (SELECT unnest(generate_series(MIN(d), MAX(d))) AS d FROM cnt) g
  LEFT JOIN cnt ON g.d = cnt.d),
blk AS (
  SELECT m, i // m AS b, i % m AS k, x
  FROM spine CROSS JOIN (SELECT unnest([4, 8, 16]) AS m) mg),
cum AS (
  SELECT m, b, k, x,
         SUM(x) OVER (PARTITION BY m, b ORDER BY k
                      ROWS UNBOUNDED PRECEDING) AS cx
  FROM blk),
per_b AS (
  SELECT m, b, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS s2
  FROM cum GROUP BY 1, 2),
w2 AS (
  SELECT cum.m, cum.b, nb, s, s2,
         MAX(cum.m * cx - (k + 1) * s) AS wmax,
         MIN(cum.m * cx - (k + 1) * s) AS wmin
  FROM cum JOIN per_b ON cum.m = per_b.m AND cum.b = per_b.b
  GROUP BY 1, 2, 3, 4, 5
  HAVING nb = cum.m AND cum.m * s2 - s * s > 0),
per_m AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         ROUND(CAST(SUM(CAST(ROUND({rs}, 9) AS DECIMAL(25,9)))
                    AS DOUBLE) / COUNT(*), 9) AS mean_rs
  FROM w2 GROUP BY 1),
pts AS (
  SELECT {lnm} AS lx,
         CAST(ROUND(ln(mean_rs), 9) AS DECIMAL(25,9)) AS ly9,
         CAST(ROUND(CAST({lnm} AS DOUBLE) * ln(mean_rs), 9)
              AS DECIMAL(25,9)) AS lxy9
  FROM per_m WHERE mean_rs > 0),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np, SUM(lx) AS sx, SUM(ly9) AS sy,
         SUM(lx * lx) AS sxx, SUM(lxy9) AS sxy
  FROM pts),
wide AS (
  SELECT MAX(CASE WHEN m = 4 THEN ROUND(mean_rs, 6) END) AS mean_rs_m4_r6,
         MAX(CASE WHEN m = 8 THEN ROUND(mean_rs, 6) END) AS mean_rs_m8_r6,
         MAX(CASE WHEN m = 16 THEN ROUND(mean_rs, 6) END)
           AS mean_rs_m16_r6
  FROM per_m)
SELECT mean_rs_m4_r6, mean_rs_m8_r6, mean_rs_m16_r6,
       CASE WHEN np < 2 THEN NULL ELSE
         ROUND((np * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (np * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END
         AS hurst_rs_r6
FROM ols CROSS JOIN wide
"""


ORACLE_HURST_RS = _rs_oracle()


# --------------------------------------------------------------------------
# Weekend/weekday rate-ratio test
# --------------------------------------------------------------------------


def stats_rate_ratio_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-ratio test of weekend vs weekday EVENT RATES per
    exposure day: RR = (a/d₁)/(b/d₂) with exposures counted off the
    calendar spine, Wald z = ln(RR)/√(1/a + 1/b) against the
    two-sided 5% normal critical. The existing weekend bench tests
    VALUES and MIX; this is the throughput question — "is weekend
    traffic per day actually different" — normalized for the fact
    that a week only has two weekend days.

    Exact: all four inputs are integers (event counts and calendar
    day counts); the readout is one ln/sqrt double chain identical in
    both engines; empty cells read NULL.

    Scale: one map-side weekend tag, two scalar aggregates."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(
        F.expr(day).alias("d"),
        F.expr(f"(({day}) + 3) % 7 >= 5").alias("wkend"),
    )
    counts = ev.agg(
        F.sum(F.expr("cast(wkend as long)")).cast("long").alias("a"),
        F.sum(F.expr("cast(not wkend as long)")).cast("long").alias("b"),
    )
    spine = (
        ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.expr("sequence(d0, d1)")).alias("d"))
        .select(F.expr("((d + 3) % 7 >= 5)").alias("wkend"))
        .agg(
            F.sum(F.expr("cast(wkend as long)")).cast("long").alias("d1"),
            F.sum(F.expr("cast(not wkend as long)")).cast("long").alias("d2"),
        )
    )
    rr = (
        "(cast(a as double) / d1) / (cast(b as double) / d2)"
    )
    z = f"ln({rr}) / sqrt(1.0d / a + 1.0d / b)"
    guard = "a = 0 or b = 0 or d1 = 0 or d2 = 0"
    return counts.crossJoin(spine).select(
        F.col("a").alias("n_weekend_events"),
        F.col("b").alias("n_weekday_events"),
        F.col("d1").alias("n_weekend_days"),
        F.col("d2").alias("n_weekday_days"),
        F.expr(
            f"case when {guard} then null else round({rr}, 6) end"
        ).alias("rate_ratio_r6"),
        F.expr(
            f"case when {guard} then null else round({z}, 6) end"
        ).alias("z_r6"),
        F.expr(
            f"case when {guard} then null else abs({z}) > 1.959964 end"
        ).alias("reject_05"),
    )


ORACLE_RATE_RATIO = f"""
WITH ev AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         ((epoch_us(ts) // {_DAY_US}) + 3) % 7 >= 5 AS wkend
  FROM events),
counts AS (
  SELECT CAST(SUM(CASE WHEN wkend THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN wkend THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM ev),
spine AS (
  SELECT CAST(SUM(CASE WHEN (d + 3) % 7 >= 5 THEN 1 ELSE 0 END)
              AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN (d + 3) % 7 >= 5 THEN 0 ELSE 1 END)
              AS BIGINT) AS d2
  FROM (SELECT unnest(generate_series(MIN(d), MAX(d))) AS d FROM ev))
SELECT a AS n_weekend_events, b AS n_weekday_events,
       d1 AS n_weekend_days, d2 AS n_weekday_days,
       CASE WHEN a = 0 OR b = 0 OR d1 = 0 OR d2 = 0 THEN NULL ELSE
         ROUND((CAST(a AS DOUBLE) / d1) / (CAST(b AS DOUBLE) / d2), 6)
       END AS rate_ratio_r6,
       CASE WHEN a = 0 OR b = 0 OR d1 = 0 OR d2 = 0 THEN NULL ELSE
         ROUND(ln((CAST(a AS DOUBLE) / d1) / (CAST(b AS DOUBLE) / d2))
               / sqrt(1e0 / a + 1e0 / b), 6) END AS z_r6,
       CASE WHEN a = 0 OR b = 0 OR d1 = 0 OR d2 = 0 THEN NULL ELSE
         abs(ln((CAST(a AS DOUBLE) / d1) / (CAST(b AS DOUBLE) / d2))
             / sqrt(1e0 / a + 1e0 / b)) > 1.959964 END AS reject_05
FROM counts CROSS JOIN spine
"""


# --------------------------------------------------------------------------
# HLL intersection estimate with error certificate
# --------------------------------------------------------------------------

HLL_IM = 64       # registers (2^6 buckets) — the sketch_hll_registers lane
HLL_IW = 54       # rank bits
HLL_IALPHA = "0.709"  # alpha_64 literal


def sketch_hll_intersection_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection estimation from HyperLogLog sketches by
    inclusion-exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    the union sketch is the per-bucket register MAX — measured against
    the EXACT intersection, for A = weekend-active users and B =
    weekday-active users. The canonical demonstration of both the
    power (three sketch scans replace a distinct-join) and the hazard
    (inclusion-exclusion compounds three errors; small intersections
    drown) of sketch set algebra; the certificate emits the relative
    error and whether it sits inside the compounded 3-sigma
    1.04/√m·(estA + estB + estU) band (a measured, not theorem,
    bound — documented).

    Determinism: registers are the md5-derived deterministic lane of
    sketch_hll_registers (6 bucket bits, rho from bin-length — no
    float log2); the raw-estimate harmonic sum is carried as the
    INTEGER Σ 2^(W+1−rho) (exact powers of two), with linear-counting
    small-range correction when est ≤ 2.5m and empties exist (both
    branches written identically in both engines).

    Scale: register-max is idempotent; the whole op is map-side
    hashing plus (3 sketches × 64)-cell state and one exact distinct
    count (itself one shuffle)."""
    day = f"({_US}) div {_DAY_US}"
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"(({day}) + 3) % 7 >= 5").alias("wkend"),
    )
    h = sql_md5_long_spark("cast(user_id as string)")
    reg0 = ev.select(
        "wkend",
        F.expr(f"({h}) % {HLL_IM}").cast("int").alias("bucket"),
        F.expr(f"({h}) div {HLL_IM}").alias("w"),
    ).select(
        "wkend",
        "bucket",
        F.when(F.col("w") == 0, F.lit(HLL_IW + 1))
        .otherwise(F.lit(HLL_IW + 1) - F.length(F.expr("bin(w)")))
        .cast("int")
        .alias("rho"),
    )
    per = reg0.groupBy("wkend", "bucket").agg(F.max("rho").alias("rho"))
    # three dense sketches: A (weekend), B (weekday), U (max merge)
    grid = spark.range(HLL_IM).select(F.col("id").cast("int").alias("bucket"))
    a_ = grid.join(
        per.filter("wkend").select("bucket", "rho"), "bucket", "left"
    ).select("bucket", F.coalesce("rho", F.lit(0)).alias("rho"))
    b_ = grid.join(
        per.filter("not wkend").select("bucket", "rho"), "bucket", "left"
    ).select("bucket", F.coalesce("rho", F.lit(0)).alias("rho"))
    u_ = grid.join(
        per.groupBy("bucket").agg(F.max("rho").alias("rho")),
        "bucket",
        "left",
    ).select("bucket", F.coalesce("rho", F.lit(0)).alias("rho"))

    def est(df: DataFrame, name: str) -> DataFrame:
        z = df.agg(
            F.sum(F.expr(f"cast(pow(2.0d, {HLL_IW + 1} - rho) as bigint)"))
            .cast("long")
            .alias("znum"),
            F.sum(F.expr("cast(rho = 0 as long)")).cast("long").alias("v"),
        )
        raw = (
            f"{HLL_IALPHA} * {HLL_IM} * {HLL_IM}"
            f" * cast(pow(2.0d, {HLL_IW + 1}) as double) / znum"
        )
        lc = f"{HLL_IM} * ln(cast({HLL_IM} as double) / v)"
        return z.select(
            F.expr(
                f"case when ({raw}) <= 2.5 * {HLL_IM} and v > 0"
                f" then {lc} else {raw} end"
            ).alias(name)
        )

    ex = (
        ev.select("user_id", "wkend")
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("k"))
        .agg(
            F.sum(F.expr("cast(k = 2 as long)")).cast("long").alias("exact_i")
        )
    )
    out = (
        est(a_, "ea").crossJoin(est(b_, "eb")).crossJoin(est(u_, "eu"))
        .crossJoin(ex)
    )
    inter = "(ea + eb - eu)"
    band = f"3.0d * 1.04 / sqrt(cast({HLL_IM} as double)) * (ea + eb + eu)"
    return out.select(
        F.expr("round(ea, 6)").alias("est_weekend_r6"),
        F.expr("round(eb, 6)").alias("est_weekday_r6"),
        F.expr("round(eu, 6)").alias("est_union_r6"),
        F.expr(f"round({inter}, 6)").alias("est_intersection_r6"),
        F.col("exact_i").alias("exact_intersection"),
        F.expr(f"round(abs({inter} - exact_i), 6)").alias("abs_err_r6"),
        F.expr(f"abs({inter} - exact_i) <= ({band})").alias(
            "within_3sigma_band"
        ),
    )


def _hll_inter_oracle() -> str:
    h = sql_md5_long_duck("CAST(user_id AS VARCHAR)")
    w1 = HLL_IW + 1
    raw = (
        f"{HLL_IALPHA} * {HLL_IM} * {HLL_IM}"
        f" * CAST(pow(2e0, {w1}) AS DOUBLE) / znum"
    )
    lc = f"{HLL_IM} * ln(CAST({HLL_IM} AS DOUBLE) / v)"
    est = (
        f"CASE WHEN ({raw}) <= 2.5 * {HLL_IM} AND v > 0"
        f" THEN {lc} ELSE {raw} END"
    )
    inter = "(ea + eb - eu)"
    band = f"3e0 * 1.04 / sqrt(CAST({HLL_IM} AS DOUBLE)) * (ea + eb + eu)"
    return f"""
WITH ev AS (
  SELECT user_id,
         ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS wkend
  FROM events),
reg0 AS (
  SELECT wkend,
         CAST(({h}) % {HLL_IM} AS INT) AS bucket,
         ({h}) // {HLL_IM} AS w
  FROM ev),
rho0 AS (
  SELECT wkend, bucket,
         CASE WHEN w = 0 THEN {w1}
              ELSE {w1} - length(bin(w)) END AS rho
  FROM reg0),
per AS (
  SELECT wkend, bucket, MAX(rho) AS rho FROM rho0 GROUP BY 1, 2),
grid AS (SELECT unnest(range({HLL_IM})) AS bucket),
za AS (
  SELECT CAST(SUM(CAST(pow(2e0, {w1} - COALESCE(p.rho, 0)) AS BIGINT))
              AS BIGINT) AS znum,
         CAST(SUM(CASE WHEN COALESCE(p.rho, 0) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS v
  FROM grid g LEFT JOIN (SELECT * FROM per WHERE wkend) p
    ON g.bucket = p.bucket),
zb AS (
  SELECT CAST(SUM(CAST(pow(2e0, {w1} - COALESCE(p.rho, 0)) AS BIGINT))
              AS BIGINT) AS znum,
         CAST(SUM(CASE WHEN COALESCE(p.rho, 0) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS v
  FROM grid g LEFT JOIN (SELECT * FROM per WHERE NOT wkend) p
    ON g.bucket = p.bucket),
zu AS (
  SELECT CAST(SUM(CAST(pow(2e0, {w1} - COALESCE(p.rho, 0)) AS BIGINT))
              AS BIGINT) AS znum,
         CAST(SUM(CASE WHEN COALESCE(p.rho, 0) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS v
  FROM grid g LEFT JOIN (SELECT bucket, MAX(rho) AS rho
                         FROM per GROUP BY 1) p
    ON g.bucket = p.bucket),
es AS (
  SELECT (SELECT {est} FROM za) AS ea,
         (SELECT {est} FROM zb) AS eb,
         (SELECT {est} FROM zu) AS eu),
ex AS (
  SELECT CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_i
  FROM (SELECT user_id, COUNT(*) AS k
        FROM (SELECT DISTINCT user_id, wkend FROM ev) GROUP BY 1))
SELECT ROUND(ea, 6) AS est_weekend_r6,
       ROUND(eb, 6) AS est_weekday_r6,
       ROUND(eu, 6) AS est_union_r6,
       ROUND({inter}, 6) AS est_intersection_r6,
       exact_i AS exact_intersection,
       ROUND(abs({inter} - exact_i), 6) AS abs_err_r6,
       abs({inter} - exact_i) <= ({band}) AS within_3sigma_band
FROM es CROSS JOIN ex
"""


ORACLE_HLL_INTERSECTION = _hll_inter_oracle()


# --------------------------------------------------------------------------
# Discount-depth response curve
# --------------------------------------------------------------------------


def lineitem_discount_response_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity response to discount depth: per discount level (exact
    integer percent — the fixture grid is 0..10%), the mean ordered
    quantity and its LIFT against the zero-discount baseline as an
    exact cross-multiplied rational — the demand-response curve
    behind the single-number price elasticity op ("do deeper
    discounts actually move volume, level by level").

    Exact: quantities half-up to integers, lift = (Σq_d·n_0)/(Σq_0·n_d)
    via the qrem split — a ratio of two means with no intermediate
    division; levels absent from the feed simply have no row.

    Scale: one (discount-level) rollup — ≤ 11 cells — map-side
    combinable."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        F.expr("cast(floor(l_discount * 100 + 0.5) as bigint)").alias("pct"),
        F.expr("cast(floor(l_quantity + 0.5) as bigint)").alias("q"),
    )
    per = li.groupBy("pct").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("q").cast("long").alias("sq"),
    ).localCheckpoint(eager=True)  # per-level + baseline
    base = per.filter(F.col("pct") == 0).select(
        F.col("n_lines").alias("n0"), F.col("sq").alias("sq0")
    )
    mean = qrem_round6_spark("sq", "n_lines")
    lift = qrem_round6_spark("sq * n0", "sq0 * n_lines")
    return (
        per.crossJoin(F.broadcast(base))
        .select(
            F.col("pct").alias("discount_pct"),
            "n_lines",
            F.expr(mean).alias("mean_qty_r6"),
            F.expr(lift).alias("qty_lift_vs_zero_r6"),
        )
        .orderBy("discount_pct")
    )


ORACLE_DISCOUNT_RESPONSE = f"""
WITH li AS (
  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS pct,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q
  FROM lineitem),
per AS (
  SELECT pct, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(q) AS BIGINT) AS sq
  FROM li GROUP BY 1),
base AS (SELECT n_lines AS n0, sq AS sq0 FROM per WHERE pct = 0)
SELECT pct AS discount_pct, n_lines,
       {qrem_round6_duck('sq', 'n_lines')} AS mean_qty_r6,
       {qrem_round6_duck('sq * n0', 'sq0 * n_lines')}
         AS qty_lift_vs_zero_r6
FROM per CROSS JOIN base ORDER BY discount_pct
"""


# --------------------------------------------------------------------------
# Embedding ingestion-order drift with interleaved control
# --------------------------------------------------------------------------


def emb_ingestion_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the embedding distribution DRIFT over ingestion order?
    Centroid distance between the first and second half of the
    vec_id range — paired with the same statistic for the
    INTERLEAVED (vec_id parity) split as a built-in null control:
    parity mixes any temporal drift away, so ordered ≫ interleaved is
    drift evidence while ordered ≈ interleaved is sampling noise. The
    ingestion-order complement of the (label-keyed) Fisher and
    anisotropy audits.

    Exact: the split point is the exact vec_id median (value-grain
    selection); per-dim centroid gaps clear denominators —
    (n₂·s₁ − n₁·s₂)² on DECIMAL lanes — and each dim's term rescales
    to unit² and 9dp-rounds into the DECIMAL sum; one sqrt at the
    readout.

    Scale: two (dim)-grain rollups (64 cells each) after map-side
    explodes; no pairwise term."""
    e = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(F.expr(_EMB_Q_SQL)).alias("d", "q")
    ).localCheckpoint(eager=True)  # split scan + both rollups
    # exact median vec_id by BUCKETED selection (the
    # agg_exact_global_median posture): a tiny bucket histogram finds
    # the k-th id's bucket, and only that bucket's <=65536 ids are
    # ranked — no corpus-sized global window at any scale
    ids = e.filter(F.col("d") == 0).select(
        "vec_id", F.expr("vec_id div 65536").alias("bkt")
    )
    nn = ids.agg(F.count("*").cast("long").alias("n"))
    bh = ids.groupBy("bkt").agg(F.count("*").cast("long").alias("c"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, W.currentRow)
    tb = (
        bh.withColumn("cum", F.sum("c").over(wb))
        .crossJoin(F.broadcast(nn))
        .filter(F.expr("cum >= (n + 1) div 2"))
        .orderBy("bkt")
        .limit(1)
        .select("bkt", F.expr("(n + 1) div 2 - (cum - c)").alias("resid"))
    )
    med = (
        ids.join(F.broadcast(tb), "bkt")
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("bkt").orderBy("vec_id"))
        )
        .filter(F.col("rk") == F.col("resid"))
        .select(F.col("vec_id").alias("med"))
    )

    def drift(split_expr: str, alias: str) -> DataFrame:
        per = (
            e.crossJoin(F.broadcast(med))
            .select("d", "q", F.expr(split_expr).alias("g"))
            .groupBy("d")
            .agg(
                F.sum(F.expr("case when g then q else 0 end"))
                .cast("long").alias("s1"),
                F.sum(F.expr("case when g then 0 else q end"))
                .cast("long").alias("s2"),
                F.sum(F.expr("cast(g as long)")).cast("long").alias("n1"),
                F.sum(F.expr("cast(not g as long)")).cast("long").alias("n2"),
            )
        )
        term = (
            "round(cast(cast(n2 * s1 - n1 * s2 as decimal(38,0))"
            " * (n2 * s1 - n1 * s2) as double)"
            " / (cast(n1 as double) * n1 * n2 * n2 * 1099511627776.0), 9)"
        )
        return per.agg(
            F.max("n1").alias(f"{alias}_n1"),
            F.max("n2").alias(f"{alias}_n2"),
            F.sum(
                F.expr(f"cast({term} as decimal(25,9))")
            ).alias(f"{alias}_dd"),
        )

    o = drift("vec_id <= med", "ord")
    c = drift("vec_id % 2 = 0", "par")
    return o.crossJoin(c).select(
        F.col("ord_n1").alias("n_first_half"),
        F.col("ord_n2").alias("n_second_half"),
        F.expr("round(sqrt(cast(ord_dd as double)), 6)").alias(
            "drift_ordered_r6"
        ),
        F.expr("round(sqrt(cast(par_dd as double)), 6)").alias(
            "drift_interleaved_r6"
        ),
        F.expr(
            "case when cast(par_dd as double) <= 0 then null else"
            " round(sqrt(cast(ord_dd as double) / cast(par_dd as double)),"
            " 6) end"
        ).alias("drift_ratio_r6"),
    )


def _drift_oracle() -> str:
    term = (
        "ROUND(CAST(CAST(n2 * s1 - n1 * s2 AS DECIMAL(38,0))"
        " * (n2 * s1 - n1 * s2) AS DOUBLE)"
        " / (CAST(n1 AS DOUBLE) * n1 * n2 * n2 * 1099511627776.0), 9)"
    )

    def half(split: str, alias: str) -> str:
        return f"""
{alias}_per AS (
  SELECT d, CAST(SUM(CASE WHEN {split} THEN q ELSE 0 END) AS BIGINT)
           AS s1,
         CAST(SUM(CASE WHEN {split} THEN 0 ELSE q END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN {split} THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN {split} THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM e CROSS JOIN med GROUP BY 1),
{alias}_agg AS (
  SELECT MAX(n1) AS {alias}_n1, MAX(n2) AS {alias}_n2,
         SUM(CAST({term} AS DECIMAL(25,9))) AS {alias}_dd
  FROM {alias}_per)"""

    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, d.d,
         CAST(TRUNC(CAST(embedding[d.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS d) d),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
med AS (
  SELECT vec_id AS med FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
    FROM embeddings) r CROSS JOIN nn
  WHERE rk = (n + 1) // 2),{half("vec_id <= med", "ord")},{half("vec_id % 2 = 0", "par")}
SELECT ord_n1 AS n_first_half, ord_n2 AS n_second_half,
       ROUND(sqrt(CAST(ord_dd AS DOUBLE)), 6) AS drift_ordered_r6,
       ROUND(sqrt(CAST(par_dd AS DOUBLE)), 6) AS drift_interleaved_r6,
       CASE WHEN CAST(par_dd AS DOUBLE) <= 0 THEN NULL ELSE
         ROUND(sqrt(CAST(ord_dd AS DOUBLE) / CAST(par_dd AS DOUBLE)), 6)
       END AS drift_ratio_r6
FROM ord_agg CROSS JOIN par_agg
"""


ORACLE_INGESTION_DRIFT = _drift_oracle()


SPECS += [
    QuerySpec(
        "orders_crk_concentration",
        orders_crk_concentration,
        ORACLE_CRK,
        ("orders", "finance", "concentration"),
        doc="CR4/CR8/CR20 customer revenue concentration per segment "
            "(cents lanes, qrem shares)",
    ),
    QuerySpec(
        "ev_hurst_rescaled_range",
        ev_hurst_rescaled_range,
        ORACLE_HURST_RS,
        ("events", "stats", "capacity"),
        doc="rescaled-range (R/S) Hurst estimate over dyadic day blocks "
            "(division-free W_k lanes, decimal OLS accumulation)",
    ),
    QuerySpec(
        "stats_rate_ratio_weekend",
        stats_rate_ratio_weekend,
        ORACLE_RATE_RATIO,
        ("stats", "events", "test"),
        doc="Poisson rate-ratio test of weekend vs weekday events per "
            "exposure day (calendar-spine exposures, Wald z)",
    ),
    QuerySpec(
        "sketch_hll_intersection_error",
        sketch_hll_intersection_error,
        ORACLE_HLL_INTERSECTION,
        ("sketch", "agg", "certificate"),
        doc="HLL inclusion-exclusion intersection estimate vs exact with "
            "a compounded 3-sigma band (deterministic md5 registers)",
    ),
    QuerySpec(
        "lineitem_discount_response_curve",
        lineitem_discount_response_curve,
        ORACLE_DISCOUNT_RESPONSE,
        ("orders", "finance"),
        doc="quantity response per discount level with exact cross-"
            "multiplied lift vs the zero-discount baseline",
    ),
    QuerySpec(
        "emb_ingestion_drift_halves",
        emb_ingestion_drift_halves,
        ORACLE_INGESTION_DRIFT,
        ("embedding", "drift", "audit"),
        doc="centroid drift between vec_id halves with the interleaved "
            "parity split as a built-in null control",
    ),
]


# ==========================================================================
# Batch AC (round-14 continuation, third window)
# ==========================================================================

# --------------------------------------------------------------------------
# LSH band-bucket skew audit
# --------------------------------------------------------------------------

LSH_HOT_BUCKET = 8  # bucket size at/over which a bucket counts as hot


def dedup_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew audit of the PRODUCTION MinHash band buckets: bucket-size
    distribution (max, exact p99), total candidate-pair load
    Σ s(s−1)/2, and the share of pairs concentrated in hot buckets
    (size ≥ {LSH_HOT_BUCKET}) — the number that predicts whether the
    banded groupBy's pair expansion has a straggler task at 100×
    data. dedup_band_precision_profile audits CORRECTNESS per band;
    this audits the LOAD SHAPE of the same buckets.

    Exact: pure integer counts; the p99 is an exact order statistic
    computed at SIZE grain (the (size → bucket count) table is tiny),
    never a bucket-grain global sort.

    Scale: reuses the production signature/banding stages (one keyed
    shuffle), then (band_key) and (size) rollups."""
    from .dedup import MINHASH_BANDS, MINHASH_R, _minhash_stages

    _docs, sig, _cand = _minhash_stages(spark, sf_dir)

    bands = (
        sig.select(
            "doc_id",
            "sig",
            F.explode(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))
            ).alias("b"),
        )
        .select(
            # grouping-internal key: raw (b, slice) struct, not a rendered
            # string — identical buckets (injective rendering), no per-row
            # string build (r15 optimization round, same change as
            # _minhash_stages)
            F.struct(
                F.col("b"),
                F.expr(f"slice(sig, b * {MINHASH_R} + 1, {MINHASH_R})")
                .alias("k"),
            ).alias("band_key")
        )
    )
    bsz = bands.groupBy("band_key").agg(F.count("*").cast("long").alias("s"))
    szg = bsz.groupBy("s").agg(F.count("*").cast("long").alias("nb"))
    tot = szg.agg(
        F.sum("nb").cast("long").alias("n_buckets"),
        F.sum(F.expr("s * nb")).cast("long").alias("n_slots"),
        F.max("s").alias("max_bucket"),
        F.sum(F.expr("s * (s - 1) div 2 * nb")).cast("long").alias("pairs"),
        F.sum(
            F.expr(
                f"case when s >= {LSH_HOT_BUCKET}"
                f" then s * (s - 1) div 2 * nb else 0 end"
            )
        ).cast("long").alias("hot_pairs"),
    )
    wc = W.orderBy("s").rowsBetween(W.unboundedPreceding, W.currentRow)
    p99 = (
        szg.withColumn("cum", F.sum("nb").over(wc))
        .crossJoin(F.broadcast(tot.select("n_buckets")))
        .filter(F.expr("cum >= (n_buckets * 99 + 99) div 100"))
        .agg(F.min("s").alias("p99_bucket"))
    )
    share = qrem_round6_spark("hot_pairs", "pairs")
    return tot.crossJoin(p99).select(
        "n_buckets",
        "n_slots",
        "max_bucket",
        "p99_bucket",
        F.col("pairs").alias("candidate_pairs"),
        F.expr(
            f"case when pairs = 0 then null else {share} end"
        ).alias("hot_pair_share_r6"),
    )


def _bucket_skew_oracle() -> str:
    from ..functions.hashing import sql_minhash_signature_duck
    from .dedup import _DUCK_SHINGLES, MINHASH_BANDS, MINHASH_PERMS, MINHASH_R

    share = qrem_round6_duck("hot_pairs", "pairs")
    return f"""
WITH shl AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id, {sql_minhash_signature_duck('shingles', MINHASH_PERMS)}
           AS sig
  FROM shl),
bands AS (
  SELECT b || ':' || array_to_string(
           sig[b * {MINHASH_R} + 1 : b * {MINHASH_R} + {MINHASH_R}], ',')
           AS band_key
  FROM sig, LATERAL unnest(range(0, {MINHASH_BANDS})) AS u(b)),
bsz AS (
  SELECT band_key, CAST(COUNT(*) AS BIGINT) AS s FROM bands GROUP BY 1),
szg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS nb FROM bsz GROUP BY 1),
tot AS (
  SELECT CAST(SUM(nb) AS BIGINT) AS n_buckets,
         CAST(SUM(s * nb) AS BIGINT) AS n_slots,
         MAX(s) AS max_bucket,
         CAST(SUM(s * (s - 1) // 2 * nb) AS BIGINT) AS pairs,
         CAST(SUM(CASE WHEN s >= {LSH_HOT_BUCKET}
                       THEN s * (s - 1) // 2 * nb ELSE 0 END) AS BIGINT)
           AS hot_pairs
  FROM szg),
p99 AS (
  SELECT MIN(s) AS p99_bucket FROM (
    SELECT s, SUM(nb) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum
    FROM szg) c CROSS JOIN tot
  WHERE cum >= (n_buckets * 99 + 99) // 100)
SELECT n_buckets, n_slots, max_bucket, p99_bucket,
       pairs AS candidate_pairs,
       CASE WHEN pairs = 0 THEN NULL ELSE {share} END
         AS hot_pair_share_r6
FROM tot CROSS JOIN p99
"""


ORACLE_BUCKET_SKEW = _bucket_skew_oracle()


# --------------------------------------------------------------------------
# Return-rate drivers by brand
# --------------------------------------------------------------------------


def lineitem_return_rate_drivers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate driver table: per brand, the share of line items
    flagged 'R' and its exact cross-multiplied LIFT against the
    corpus return rate — which product lines drive returns, the
    merchandising question behind q10's per-customer returned-revenue
    ranking.

    Exact: counts and two qrem rationals; the lift clears both
    denominators (n_ret·N)/(n·NR) so no intermediate division exists.

    Scale: one (partkey) fact shuffle pre-aggregated map-side, a
    broadcast part join, a 25-row readout."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(l_returnflag = 'R' as long)").alias("r"),
    )
    part = catalog.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    per = (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("r").cast("long").alias("nr"),
        )
        .join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.sum("n").cast("long").alias("n_lines"),
            F.sum("nr").cast("long").alias("n_returned"),
        )
        .localCheckpoint(eager=True)  # brand rows + global totals
    )
    tot = per.agg(
        F.sum("n_lines").cast("long").alias("nn"),
        F.sum("n_returned").cast("long").alias("nnr"),
    )
    rate = qrem_round6_spark("n_returned", "n_lines")
    lift = qrem_round6_spark("n_returned * nn", "n_lines * nnr")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "p_brand",
            "n_lines",
            "n_returned",
            F.expr(rate).alias("return_rate_r6"),
            F.expr(
                f"case when nnr = 0 then null else {lift} end"
            ).alias("lift_vs_global_r6"),
        )
        .orderBy("p_brand")
    )


ORACLE_RETURN_DRIVERS = f"""
WITH per AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_lines) AS BIGINT) AS nn,
         CAST(SUM(n_returned) AS BIGINT) AS nnr
  FROM per)
SELECT p_brand, n_lines, n_returned,
       {qrem_round6_duck('n_returned', 'n_lines')} AS return_rate_r6,
       CASE WHEN nnr = 0 THEN NULL ELSE
         {qrem_round6_duck('n_returned * nn', 'n_lines * nnr')} END
         AS lift_vs_global_r6
FROM per CROSS JOIN tot ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# Hill tail-index estimator of user activity
# --------------------------------------------------------------------------

HILL_K = 32


def ev_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the user-activity tail index: over the top
    {HILL_K} most active users, H = mean ln(x_(i)/x_(k+1)) and the
    tail exponent α = 1/H — the MLE tail estimator next to
    ev_zipf_user_activity's rank-frequency OLS slope (two estimators
    agreeing is the actual evidence the activity tail is power-law;
    Hill is also the one that generalizes to 100 TB because it needs
    only a top-k order statistic, not a full rank curve).

    Exact: the top-(k+1) extraction is an orderBy+limit partial
    top-k (no global sort); each ln of an integer ratio 9dp-rounds
    into the DECIMAL mean; ties at the threshold break on user_id.
    Degenerate tails (x_(i) = x_(k+1) for all i → H = 0) read NULL α.

    Scale: one (user) rollup then a 33-row computation."""
    ua = (
        catalog.load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("x"))
    )
    top = (
        ua.orderBy(F.desc("x"), F.asc("user_id"))
        .limit(HILL_K + 1)
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("x"), F.asc("user_id")))
        )
        .localCheckpoint(eager=True)  # head rows + threshold row
    )
    kk = top.agg(F.max("rk").cast("long").alias("kk1"))
    thr = top.crossJoin(F.broadcast(kk)).filter(
        F.col("rk") == F.col("kk1")
    ).select(F.col("x").alias("xk1"))
    h = (
        top.crossJoin(F.broadcast(kk))
        .filter(F.col("rk") < F.col("kk1"))
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count("*").cast("long").alias("k"),
            F.max("xk1").alias("xk1"),
            F.sum(
                F.expr(
                    "cast(round(ln(cast(x as double) / xk1), 9)"
                    " as decimal(25,9))"
                )
            ).alias("sh"),
        )
    )
    hill = "cast(sh as double) / k"
    return h.select(
        "k",
        F.col("xk1").alias("x_threshold"),
        F.expr(f"round({hill}, 6)").alias("hill_mean_r6"),
        F.expr(
            f"case when cast(sh as double) <= 0 then null"
            f" else round(1.0d / ({hill}), 6) end"
        ).alias("tail_alpha_r6"),
    )


ORACLE_HILL = f"""
WITH ua AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
top AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, user_id) AS rk
  FROM ua ORDER BY x DESC, user_id LIMIT {HILL_K + 1}),
kk AS (SELECT CAST(MAX(rk) AS BIGINT) AS kk1 FROM top),
thr AS (
  SELECT x AS xk1 FROM top CROSS JOIN kk WHERE rk = kk1),
h AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(xk1) AS xk1,
         SUM(CAST(ROUND(ln(CAST(x AS DOUBLE) / xk1), 9)
                  AS DECIMAL(25,9))) AS sh
  FROM top CROSS JOIN kk CROSS JOIN thr WHERE rk < kk1)
SELECT k, xk1 AS x_threshold,
       ROUND(CAST(sh AS DOUBLE) / k, 6) AS hill_mean_r6,
       CASE WHEN CAST(sh AS DOUBLE) <= 0 THEN NULL ELSE
         ROUND(1e0 / (CAST(sh AS DOUBLE) / k), 6) END AS tail_alpha_r6
FROM h
"""


# --------------------------------------------------------------------------
# Header vs body byte entropy per media type
# --------------------------------------------------------------------------

HEADER_BYTES = 64


def mm_header_body_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure detection by POSITION: byte entropy of the first
    {HEADER_BYTES} payload bytes (the header region — magic numbers,
    fixed fields) vs everything after, per media type. Real container
    formats show a LOW-entropy header against a high-entropy
    (compressed) body; a flat profile says the payload is headerless
    or uniformly encoded — the positional complement of the marginal
    (mm_payload_chi2_uniformity) and sequential (mm_byte_runs)
    tests.

    Exact: the house n·ln n 9dp-decimal entropy lanes per segment;
    types whose payloads never exceed the header length read NULL
    body/delta.

    Scale: the hex slide is map-side; state is (type × 2 × 256)."""
    from .multimodal import project_assets

    assets = project_assets(
        catalog.load(spark, sf_dir, "documents")
    ).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    by = (
        assets.select(
            "media_type",
            F.expr("hex(payload)").alias("hx"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 1)
        .select(
            "media_type",
            F.explode(
                F.expr(
                    f"transform(sequence(1, n), i -> struct("
                    f"i <= {HEADER_BYTES} as hdr,"
                    f" substring(hx, 2 * i - 1, 2) as byte))"
                )
            ).alias("s"),
        )
        .select("media_type", "s.hdr", "s.byte")
        .groupBy("media_type", "hdr", "byte")
        .agg(F.count("*").cast("long").alias("c"))
    )
    seg = by.groupBy("media_type", "hdr").agg(
        F.sum("c").cast("long").alias("tot"),
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(25,9)")
        ).alias("s"),
    )
    hexpr = "round(round(ln(tot), 9) - cast(s as double) / tot, 6)"
    wide = seg.groupBy("media_type").agg(
        F.max(F.expr(f"case when hdr then {hexpr} end")).alias("h_header_r6"),
        F.max(F.expr(f"case when not hdr then {hexpr} end")).alias(
            "h_body_r6"
        ),
        F.max(F.expr("case when hdr then tot end")).alias("n_header_bytes"),
        F.max(F.expr("case when not hdr then tot end")).alias("n_body_bytes"),
    )
    return wide.select(
        "media_type",
        F.coalesce("n_header_bytes", F.lit(0)).cast("long").alias(
            "n_header_bytes"
        ),
        F.coalesce("n_body_bytes", F.lit(0)).cast("long").alias(
            "n_body_bytes"
        ),
        "h_header_r6",
        "h_body_r6",
        F.expr("round(h_body_r6 - h_header_r6, 6)").alias("delta_r6"),
    ).orderBy("media_type")


ORACLE_HEADER_BODY = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 1),
by0 AS (
  SELECT media_type, i <= {HEADER_BYTES} AS hdr,
         substr(hx, 2 * i - 1, 2) AS byte,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM a, LATERAL unnest(generate_series(1, n)) AS u(i)
  GROUP BY 1, 2, 3),
seg AS (
  SELECT media_type, hdr, CAST(SUM(c) AS BIGINT) AS tot,
         SUM(CAST(ROUND(c * ln(c), 9) AS DECIMAL(25,9))) AS s
  FROM by0 GROUP BY 1, 2),
wide AS (
  SELECT media_type,
         MAX(CASE WHEN hdr THEN
               ROUND(ROUND(ln(tot), 9) - CAST(s AS DOUBLE) / tot, 6)
             END) AS h_header_r6,
         MAX(CASE WHEN NOT hdr THEN
               ROUND(ROUND(ln(tot), 9) - CAST(s AS DOUBLE) / tot, 6)
             END) AS h_body_r6,
         MAX(CASE WHEN hdr THEN tot END) AS n_header_bytes,
         MAX(CASE WHEN NOT hdr THEN tot END) AS n_body_bytes
  FROM seg GROUP BY 1)
SELECT media_type,
       CAST(COALESCE(n_header_bytes, 0) AS BIGINT) AS n_header_bytes,
       CAST(COALESCE(n_body_bytes, 0) AS BIGINT) AS n_body_bytes,
       h_header_r6, h_body_r6,
       ROUND(h_body_r6 - h_header_r6, 6) AS delta_r6
FROM wide ORDER BY media_type
"""


# --------------------------------------------------------------------------
# Brown-Mood k-group median test across nations
# --------------------------------------------------------------------------


def stats_median_test_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Mood k-group median test of order values across customer
    nations: counts above/below the GRAND median per nation and the
    χ²(k−1) statistic — the most outlier-proof answer to "do nations
    differ in typical order value", next to the rank-based ANOVA
    already in the registry (kruskal-wallis reads rank shifts; the
    median test reads only which side of one cut each order lands).

    Exact: grand median by value-grain selection on cents (no row
    sort); median ties excluded (documented); χ² via the
    N·Σo²/(r·c) − N identity on 9dp decimal cell lanes; the literal
    critical is emitted for the fixture's 25-nation table (df = 24)
    and NULL otherwise.

    Scale: (cents-value) and (nation × 2) rollups only."""
    o = catalog.load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "cents"
        ),
    )
    cust = catalog.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    j = o.join(F.broadcast(cust), "o_custkey").localCheckpoint(
        eager=True
    )  # median scan + nation table
    vg = j.groupBy("cents").agg(F.count("*").cast("long").alias("c"))
    tot = vg.agg(F.sum("c").cast("long").alias("nn"))
    wv = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    med = (
        vg.select("cents", F.sum("c").over(wv).alias("cum"))
        .crossJoin(F.broadcast(tot))
        .filter(F.expr("cum >= (nn + 1) div 2"))
        .agg(F.min("cents").alias("med"))
    )
    cells = (
        j.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("med"))
        .select("nation", F.expr("cents > med").alias("above"))
        .groupBy("nation", "above")
        .agg(F.count("*").cast("long").alias("o"))
    )
    rows_ = cells.groupBy("nation").agg(F.sum("o").cast("long").alias("r"))
    cols = cells.groupBy("above").agg(F.sum("o").cast("long").alias("c"))
    nt = cells.agg(F.sum("o").cast("long").alias("nn"))
    term = (
        "cast(round(cast(o as double) * o / (cast(r as double) * c), 9)"
        " as decimal(25,9))"
    )
    agg = (
        cells.join(F.broadcast(rows_), "nation")
        .join(F.broadcast(cols), "above")
        .crossJoin(F.broadcast(nt))
        .agg(
            F.max("nn").alias("nn"),
            F.countDistinct("nation").cast("long").alias("k"),
            F.sum(F.expr(term)).alias("t"),
        )
    )
    chi = "cast(nn as double) * cast(t as double) - cast(nn as double)"
    return agg.select(
        F.col("nn").alias("n_orders_tested"),
        F.col("k").alias("n_nations"),
        F.expr(f"round({chi}, 6)").alias("chi2_r6"),
        F.expr("cast(k - 1 as long)").alias("df"),
        F.expr(
            f"case when k = 25 then ({chi}) > 36.415029 end"
        ).alias("reject_05"),
    )


ORACLE_MEDIAN_NATIONS = """
WITH o AS (
  SELECT c_nationkey AS nation,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey),
vg AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM o GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM vg),
med AS (
  SELECT MIN(cents) AS med FROM (
    SELECT cents, SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
             AS cum
    FROM vg) cc CROSS JOIN tot WHERE cum >= (nn + 1) // 2),
cells AS (
  SELECT CAST(nation AS BIGINT) AS nation, cents > med AS above,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM o CROSS JOIN med WHERE cents <> med GROUP BY 1, 2),
rows_ AS (SELECT nation, CAST(SUM(o) AS BIGINT) AS r
          FROM cells GROUP BY 1),
cols AS (SELECT above, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
nt AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
agg AS (
  SELECT MAX(nn) AS nn,
         CAST(COUNT(DISTINCT cells.nation) AS BIGINT) AS k,
         SUM(CAST(ROUND(CAST(o AS DOUBLE) * o
                        / (CAST(r AS DOUBLE) * c), 9)
                  AS DECIMAL(25,9))) AS t
  FROM cells JOIN rows_ ON cells.nation = rows_.nation
  JOIN cols ON cells.above = cols.above CROSS JOIN nt)
SELECT nn AS n_orders_tested, k AS n_nations,
       ROUND(CAST(nn AS DOUBLE) * CAST(t AS DOUBLE)
             - CAST(nn AS DOUBLE), 6) AS chi2_r6,
       CAST(k - 1 AS BIGINT) AS df,
       CASE WHEN k = 25 THEN
         (CAST(nn AS DOUBLE) * CAST(t AS DOUBLE)
          - CAST(nn AS DOUBLE)) > 36.415029 END AS reject_05
FROM agg
"""


# --------------------------------------------------------------------------
# Language / dominant-script agreement audit
# --------------------------------------------------------------------------


def text_lang_script_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-audit of the declared ``lang`` label against the
    measured Unicode script: each document's DOMINANT letter script
    (argmax of the codepoint-band counts, ASCII symbols excluded,
    alphabetical tie-break) is compared with the MODAL lang among
    docs sharing that script — a data-derived consistency check that
    needs no hand-built lang→script map: if 'en' is modal for latin,
    every latin-dominant doc declaring anything else is an outlier.
    Per script: doc count, the modal lang, and the agreement share.

    Exact: integer counts, deterministic argmax/modal tie-breaks,
    one qrem share.

    Scale: the char explode is the slide posture; everything after is
    (doc × scripts-present) then (script × lang) grains."""
    docs = catalog.load(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(text)),"
                " i -> ascii(substring(text, i, 1)))"
            )
        ).alias("cp"),
    ).filter(F.col("cp") >= 65)
    cls = ch.select(
        "doc_id", "lang", F.expr(_SCRIPT_CLASS).alias("script")
    ).filter(F.col("script") != "ascii_sym")
    per = cls.groupBy("doc_id", "lang", "script").agg(
        F.count("*").cast("long").alias("c")
    )
    wd = W.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("script"))
    dom = (
        per.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", "script")
        .localCheckpoint(eager=True)  # modal join + agreement rollup
    )
    sl = dom.groupBy("script", "lang").agg(
        F.count("*").cast("long").alias("n")
    )
    wm = W.partitionBy("script").orderBy(F.desc("n"), F.asc("lang"))
    modal = (
        sl.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("script", F.col("lang").alias("modal_lang"))
    )
    agree = (
        dom.join(F.broadcast(modal), "script")
        .groupBy("script", "modal_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.expr("cast(lang = modal_lang as long)"))
            .cast("long").alias("n_agree"),
        )
    )
    share = rat_round6_spark("n_agree", "n_docs")
    return agree.select(
        "script", "n_docs", "modal_lang", F.expr(share).alias("agree_share_r6")
    ).orderBy("script")


ORACLE_LANG_SCRIPT = f"""
WITH ch AS (
  SELECT doc_id, lang, unicode(substr(text, i, 1)) AS cp
  FROM documents,
       LATERAL unnest(generate_series(1, length(text))) AS u(i)),
cls AS (
  SELECT doc_id, lang, {_SCRIPT_CLASS} AS script
  FROM ch WHERE cp >= 65),
per AS (
  SELECT doc_id, lang, script, CAST(COUNT(*) AS BIGINT) AS c
  FROM cls WHERE script <> 'ascii_sym' GROUP BY 1, 2, 3),
dom AS (
  SELECT doc_id, lang, script FROM (
    SELECT doc_id, lang, script,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, script) AS rk
    FROM per) WHERE rk = 1),
sl AS (
  SELECT script, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM dom GROUP BY 1, 2),
modal AS (
  SELECT script, lang AS modal_lang FROM (
    SELECT script, lang,
           ROW_NUMBER() OVER (PARTITION BY script
                              ORDER BY n DESC, lang) AS rk
    FROM sl) WHERE rk = 1),
agree AS (
  SELECT dom.script, modal_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN dom.lang = modal_lang THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM dom JOIN modal ON dom.script = modal.script
  GROUP BY 1, 2)
SELECT script, n_docs, modal_lang,
       {rat_round6_duck('n_agree', 'n_docs')} AS agree_share_r6
FROM agree ORDER BY script
"""


SPECS += [
    QuerySpec(
        "dedup_lsh_bucket_skew",
        dedup_lsh_bucket_skew,
        ORACLE_BUCKET_SKEW,
        ("dedup", "lsh", "audit"),
        doc="bucket-size skew audit of the production MinHash bands "
            "(exact p99 at size grain, hot-bucket pair share)",
    ),
    QuerySpec(
        "lineitem_return_rate_drivers",
        lineitem_return_rate_drivers,
        ORACLE_RETURN_DRIVERS,
        ("orders", "audit"),
        doc="per-brand return rates with exact cross-multiplied lift "
            "vs the corpus rate",
    ),
    QuerySpec(
        "ev_hill_tail_index",
        ev_hill_tail_index,
        ORACLE_HILL,
        ("events", "stats"),
        doc="Hill tail-index of user activity over the top-32 order "
            "statistics (orderBy+limit partial top-k, decimal ln mean)",
    ),
    QuerySpec(
        "mm_header_body_entropy",
        mm_header_body_entropy,
        ORACLE_HEADER_BODY,
        ("multimodal", "audit"),
        doc="byte entropy of the first-64-byte header region vs the "
            "body per media type (positional structure detection)",
    ),
    QuerySpec(
        "stats_median_test_nations",
        stats_median_test_nations,
        ORACLE_MEDIAN_NATIONS,
        ("stats", "orders", "test"),
        doc="Brown-Mood k-group median test of order values across "
            "nations (value-grain grand median, decimal chi2 lanes)",
    ),
    QuerySpec(
        "text_lang_script_agreement",
        text_lang_script_agreement,
        ORACLE_LANG_SCRIPT,
        ("text", "quality", "audit"),
        doc="declared lang vs dominant-script modal-lang agreement per "
            "script (data-derived, deterministic tie-breaks)",
    ),
]
