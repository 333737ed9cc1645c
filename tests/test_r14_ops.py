"""Round-14 tests.

Part 1 — regression twins for the r13 VERDICT fixes: the TwoNN
local-top-2 scorer and the sim_cosine_topk/MIPS local-top-k cut must be
bit-identical to the brute all-pairs form (including the self-match
crowding edge), and the two new sketch certificates
(agg_approx_percentiles GK rank window, agg_approx_distinct HLL band)
must hold on hostile planted data.

Part 2 — planted micro-fixtures + brute twins for the ten batch-N
operators (PVM bridge, jackknife influence, MDE, seasonality η²,
sequence patterns, prefix-hash audit, probe hubness, prefix-dim recall,
LSH band planner, method confusion).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import normalize_rows

US_PER_HOUR = 3_600_000_000
US_PER_DAY = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC (a Monday)


def _write_events(tmp_path, rows):
    """rows: (event_id, ts_us, user_id, event_type, value)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(['{"k": 1}'] * len(rows)),
            }
        ),
        tmp_path / "events.parquet",
    )


def _write_docs(tmp_path, texts, sources=None):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(sources or ["s0"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )


def _write_embeddings(tmp_path, vecs):
    """vecs: list of 64-float lists (pad shorter specs with zeros)."""
    full = [list(v) + [0.0] * (64 - len(v)) for v in vecs]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(full)), pa.int64()),
                "embedding": pa.array(full, pa.list_(pa.float32())),
                "label": pa.array([0] * len(full), pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )


def _write_lineitem(tmp_path, rows):
    """rows: (orderkey, partkey, qty, extendedprice, shipdate_us,
    returnflag)."""
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([1] * len(rows), pa.int64()),
                "l_linenumber": pa.array(range(1, len(rows) + 1),
                                         pa.int32()),
                "l_quantity": pa.array([float(r[2]) for r in rows],
                                       pa.float64()),
                "l_extendedprice": pa.array([float(r[3]) for r in rows],
                                            pa.float64()),
                "l_discount": pa.array([0.0] * len(rows), pa.float64()),
                "l_tax": pa.array([0.0] * len(rows), pa.float64()),
                "l_returnflag": pa.array([r[5] for r in rows]),
                "l_linestatus": pa.array(["O"] * len(rows)),
                "l_shipdate": pa.array([r[4] for r in rows],
                                       pa.timestamp("us")),
            }
        ),
        tmp_path / "lineitem.parquet",
    )


def _write_part(tmp_path, rows):
    """rows: (partkey, brand)."""
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([r[0] for r in rows], pa.int64()),
                "p_name": pa.array([f"part {r[0]}" for r in rows]),
                "p_brand": pa.array([r[1] for r in rows]),
                "p_type": pa.array(["t"] * len(rows)),
                "p_size": pa.array([1] * len(rows), pa.int32()),
                "p_retailprice": pa.array([1.0] * len(rows), pa.float64()),
            }
        ),
        tmp_path / "part.parquet",
    )


def _write_orders_nation(tmp_path, orders):
    """orders: (orderkey, custkey, totalprice); customers 1..3 map to
    nations A(1: cust 1,2) and B(2: cust 3)."""
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in orders], pa.int64()),
                "o_custkey": pa.array([r[1] for r in orders], pa.int64()),
                "o_orderstatus": pa.array(["O"] * len(orders)),
                "o_totalprice": pa.array([float(r[2]) for r in orders],
                                         pa.float64()),
                "o_orderdate": pa.array([T0_US] * len(orders),
                                        pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * len(orders)),
            }
        ),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3], pa.int64()),
                "c_name": pa.array(["c1", "c2", "c3"]),
                "c_nationkey": pa.array([1, 1, 2], pa.int64()),
                "c_acctbal": pa.array([0.0] * 3, pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * 3),
            }
        ),
        tmp_path / "customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([1, 2], pa.int64()),
                "n_name": pa.array(["ALPHA", "BETA"]),
                "n_regionkey": pa.array([0, 0], pa.int64()),
            }
        ),
        tmp_path / "nation.parquet",
    )


def _oracle_rows(tmp_path, sql, tables):
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tmp_path}/{t}.parquet')"
            )
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [tuple(d.values())
                for d in res.fetch_arrow_table().to_pylist()]
        return cols, rows
    finally:
        con.close()


def _assert_spark_matches_oracle(df, tmp_path, sql, tables):
    scols = df.columns
    srows = [tuple(r) for r in df.collect()]
    dcols, drows = _oracle_rows(tmp_path, sql, tables)
    assert sorted(scols) == sorted(dcols), f"columns: {scols} vs {dcols}"
    assert len(srows) == len(drows), f"rows: {len(srows)} vs {len(drows)}"
    for a, b in zip(
        normalize_rows(srows, scols), normalize_rows(drows, dcols)
    ):
        assert a == b


# ---------------------------------------------------------------------------
# Part 1 — r13 VERDICT fix regressions
# ---------------------------------------------------------------------------


def _grid(v):
    return np.trunc(np.asarray(v, dtype=np.float64) * 1048576.0)


def test_twonn_local_top2_equals_brute(spark, tmp_path):
    """The batched local-top-2 scorer must reproduce the all-pairs
    TwoNN readout exactly — including duplicate vectors (d2 == 0
    excluded) and self-pair masking."""
    from spark_dba_spark.operators.curation import emb_intrinsic_dim_twonn

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 64)).tolist()
    vecs[5] = list(vecs[3])  # exact duplicate: d2 == 0 must be skipped
    _write_embeddings(tmp_path, vecs)
    got = emb_intrinsic_dim_twonn(spark, str(tmp_path)).collect()[0]
    q = np.stack(
        [_grid(np.asarray(v, dtype=np.float32).astype(np.float64))
         for v in vecs]
    )
    d2 = ((q[:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    d2[d2 <= 0] = np.inf
    s = 0.0
    n = 0
    for i in range(len(vecs)):  # every vec_id < 256 is a probe here
        vals = np.sort(d2[i])[:2]
        if not np.isfinite(vals[0]):
            continue
        n += 1
        if np.isfinite(vals[1]):
            s += round(float(np.log(vals[1] / vals[0]) / 2.0), 9)
    assert got["n_probes"] == n
    assert abs(got["sum_log_ratio_r6"] - round(s, 6)) < 1e-9
    assert abs(got["intrinsic_dim_r6"] - round(n / s, 6)) < 1e-9


@pytest.mark.parametrize("metric", ["cosine", "mips"])
def test_sim_topk_local_cut_matches_brute(spark, tmp_path, metric):
    """The per-batch local top-k cut must not change the global result —
    planted duplicates of a probe vector exercise the self-mask (the
    self row may never crowd a genuine winner out of the local cut).
    Cosine ranks unit rows, MIPS the raw dot product."""
    from spark_dba_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        sim_cosine_topk,
        sim_mips_maxdot,
    )

    build = sim_cosine_topk if metric == "cosine" else sim_mips_maxdot
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 64))
    vecs[25] = vecs[2]  # duplicate of probe 2: sim == 1.0 neighbor
    _write_embeddings(tmp_path, vecs.tolist())
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in build(spark, str(tmp_path)).collect()
    }
    m = vecs.astype(np.float32).astype(np.float64)  # float32 round-trip
    if metric == "cosine":
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    for qid in range(N_QUERIES):
        order = sorted(
            (i for i in range(len(vecs)) if i != qid),
            key=lambda i: (-sims[i, qid], i),
        )[:TOP_K]
        for rank, vid in enumerate(order, 1):
            assert got[(qid, rank)] == vid, (qid, rank)
    if metric == "cosine":  # the duplicate must rank first for probe 2
        assert got[(2, 1)] == 25


def test_gk_certificate_on_planted_ties(spark, tmp_path):
    """GK rank certificate must hold on a constant column (rank
    interval [1, n] — the widest tie case) and on a two-value split."""
    from spark_dba_spark.operators.relational import (
        ORACLE_APPROX_PERCENTILES,
        agg_approx_percentiles,
    )

    rows = [(i, 1, 1.0, 500.0, T0_US, "A") for i in range(200)]
    rows += [(i + 500, 1, 1.0, 100.0 if i % 2 else 900.0, T0_US, "R")
             for i in range(200)]
    _write_lineitem(tmp_path, rows)
    df = agg_approx_percentiles(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_APPROX_PERCENTILES, ["lineitem"]
    )
    for r in df.collect():
        assert r["p50_rank_ok"] and r["p90_rank_ok"] and r["p99_rank_ok"]


def test_hll_certificate_on_planted_dups(spark, tmp_path):
    from spark_dba_spark.operators.relational import (
        ORACLE_APPROX_DISTINCT,
        agg_approx_distinct,
    )

    rows = [(i % 37, 1, 1.0, 10.0, T0_US, "A") for i in range(300)]
    rows += [(i, 1, 1.0, 10.0, T0_US, "N") for i in range(1000)]
    _write_lineitem(tmp_path, rows)
    df = agg_approx_distinct(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_APPROX_DISTINCT, ["lineitem"]
    )
    assert all(r["hll_band_ok"] for r in df.collect())


# ---------------------------------------------------------------------------
# Part 2 — batch N planted fixtures
# ---------------------------------------------------------------------------


def test_pvm_effects_telescope(spark, tmp_path):
    """Known two-year brand history: price 10.00→12.00, qty 100→80.
    price effect = (12−10)·80 = +160.00; volume effect = 10·(80−100)
    = −200.00; delta = 960−1000 = −40.00. Cents exactly."""
    from spark_dba_spark.operators.curation import (
        ORACLE_PVM,
        PVM_Y1,
        PVM_Y2,
        orders_pvm_decomposition,
    )

    y1 = 820_454_400_000_000  # 1996-01-01 UTC in epoch micros
    y2 = 852_076_800_000_000  # 1997-01-01 UTC
    rows = [
        (1, 1, 60, 600.0, y1, "A"),  # 1996: qty 100 @ 10.00
        (2, 1, 40, 400.0, y1, "A"),
        (3, 1, 80, 960.0, y2, "A"),  # 1997: qty 80 @ 12.00
        (4, 2, 10, 100.0, y2, "A"),  # brand only in y2: null effects
    ]
    _write_lineitem(tmp_path, rows)
    _write_part(tmp_path, [(1, "B1"), (2, "B2")])
    df = orders_pvm_decomposition(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_PVM, ["lineitem", "part"]
    )
    got = {r["p_brand"]: r for r in df.collect()}
    b1 = got["B1"]
    assert (b1["qty_y1"], b1["qty_y2"]) == (100, 80)
    assert b1["delta_cents"] == -4000
    assert b1["price_effect_cents"] == 16000
    assert b1["volume_effect_cents"] == -20000
    assert (b1["price_effect_cents"] + b1["volume_effect_cents"]
            == b1["delta_cents"])
    b2 = got["B2"]
    assert b2["price_effect_cents"] is None
    assert b2["volume_effect_cents"] is None
    assert PVM_Y1 == 1996 and PVM_Y2 == 1997  # fixture pins the window


def test_jackknife_influence_planted(spark, tmp_path):
    """ALPHA holds two 100.00 orders, BETA one 700.00 order: global
    mean 300.00; dropping BETA moves it to 100.00 (influence +200.00),
    dropping ALPHA to 700.00 (influence −400.00)."""
    from spark_dba_spark.operators.curation import (
        ORACLE_JACKKNIFE,
        stats_jackknife_influence,
    )

    _write_orders_nation(
        tmp_path, [(1, 1, 100.0), (2, 2, 100.0), (3, 3, 700.0)]
    )
    df = stats_jackknife_influence(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_JACKKNIFE,
        ["orders", "customer", "nation"],
    )
    got = {r["n_name"]: r for r in df.collect()}
    assert got["ALPHA"]["mean_cents_r6"] == 10000.0
    assert got["ALPHA"]["loo_mean_cents_r6"] == 70000.0
    assert got["ALPHA"]["influence_cents_r6"] == -40000.0
    assert got["BETA"]["loo_mean_cents_r6"] == 10000.0
    assert got["BETA"]["influence_cents_r6"] == 20000.0
    assert got["ALPHA"]["global_mean_cents_r6"] == 30000.0


def test_mde_guards_and_parity(spark, tmp_path):
    """Hostile fixture: few users, including the all-converted /
    none-converted guard paths, cross-checked against the oracle."""
    from spark_dba_spark.operators.curation import (
        ORACLE_MDE,
        stats_power_analysis_mde,
    )

    rows = []
    eid = 0
    for uid in range(40):
        conv = uid % 3 == 0
        rows.append((eid, T0_US + uid, uid, "view", 1.0))
        eid += 1
        if conv:
            rows.append(
                (eid, T0_US + uid + 1, uid, "purchase", 10_000.0)
            )
            eid += 1
    _write_events(tmp_path, rows)
    df = stats_power_analysis_mde(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_MDE, ["events"])
    r = df.collect()[0]
    assert r["n_a"] + r["n_b"] == 40
    assert r["mde_abs_r6"] is not None and r["mde_abs_r6"] > 0
    assert r["powered"] is not None


def test_seasonality_eta2_extremes(spark, tmp_path):
    """'clock' fires only at hour 5 with VARYING daily counts (η² = 1:
    all cell variance is the hour factor); 'flat' has identical counts
    in every (day, hour) cell (zero variance → NULL guard)."""
    from spark_dba_spark.operators.curation import (
        ORACLE_SEASONALITY,
        ev_seasonality_strength,
    )

    rows = []
    eid = 0
    for day in range(4):
        for rep in range(day + 1):  # hour-5 count varies by day: 1..4
            rows.append(
                (eid, T0_US + day * US_PER_DAY + 5 * US_PER_HOUR + rep,
                 1, "clock", 1.0)
            )
            eid += 1
        for hod in range(3):  # constant 1 per cell
            rows.append(
                (eid, T0_US + day * US_PER_DAY + hod * US_PER_HOUR,
                 2, "flat", 1.0)
            )
            eid += 1
    _write_events(tmp_path, rows)
    df = ev_seasonality_strength(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_SEASONALITY, ["events"]
    )
    got = {r["event_type"]: r for r in df.collect()}
    # single-hour type: between-group SS == total SS exactly... but with
    # one hour level the correction term equals the between term only
    # when counts vary ACROSS days within the hour — here SS_b = 0 and
    # SS_tot > 0, so eta2 is exactly 0 (the hour factor explains nothing
    # for a type that only ever fires in one hour).
    assert got["clock"]["eta2_r6"] == 0.0
    assert got["flat"]["eta2_r6"] is None  # zero total variance guard


def test_sequence_patterns_planted_and_capped(spark, tmp_path):
    from spark_dba_spark.operators.curation import (
        ORACLE_SEQ_PATTERNS,
        SEQ_CAP,
        ev_sequence_pattern_match,
    )

    rows = []
    eid = 0
    # user 1: s c v p e e c p -> signup_to_purchase 1 (non-overlap),
    # double_error 1, error_then_purchase 1 ('e e c p': first match
    # consumes 'ecp' after the ee scan... regex scans left-to-right:
    # 'e[cv]{0,3}p' first fires at the FIRST e -> 'eecp'? 'e' then
    # '[cv]{0,3}' cannot match 'e' -> backtrack; match starts at 2nd e.
    for ch, ty in zip(
        "scvpeecp",
        ["signup", "click", "view", "purchase", "error", "error",
         "click", "purchase"],
    ):
        rows.append((eid, T0_US + eid, 1, ty, 1.0))
        eid += 1
    # user 2: SEQ_CAP views, then an 'ee' AFTER the cap - must not count
    for i in range(SEQ_CAP):
        rows.append((eid, T0_US + eid, 2, "view", 1.0))
        eid += 1
    rows.append((eid, T0_US + eid, 2, "error", 1.0)); eid += 1
    rows.append((eid, T0_US + eid, 2, "error", 1.0)); eid += 1
    _write_events(tmp_path, rows)
    df = ev_sequence_pattern_match(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_SEQ_PATTERNS, ["events"]
    )
    got = {r["pattern"]: r for r in df.collect()}
    assert got["double_error"]["total_matches"] == 1  # cap held
    assert got["double_error"]["n_users_matched"] == 1
    assert got["signup_to_purchase"]["total_matches"] == 1
    assert got["error_then_purchase"]["total_matches"] == 1
    assert got["double_error"]["n_users"] == 2


def test_prefix_hash_audit_false_merge(spark, tmp_path):
    from spark_dba_spark.operators.curation import (
        ORACLE_PREFIX_HASH_AUDIT,
        mm_prefix_hash_audit,
    )

    p = "A" * 24  # shared 24-char prefix
    # doc_ids 0,3: image; 1,4: audio; 2,5: video (doc_id % 3)
    texts = [
        p + "tail-one",   # 0 image: false-merge group with doc 3
        p + "same",       # 1 audio: exact dup pair with doc 4
        "unique video content here",  # 2 video
        p + "tail-two",   # 3 image
        p + "same",       # 4 audio: same full hash -> NOT a false merge
        "another unique video",       # 5 video
    ]
    _write_docs(tmp_path, texts)
    df = mm_prefix_hash_audit(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_PREFIX_HASH_AUDIT, ["documents"]
    )
    got = {r["media_type"]: r for r in df.collect()}
    assert got["image"]["n_prefix_groups"] == 1
    assert got["image"]["n_full_groups"] == 2
    assert got["image"]["n_false_merge_groups"] == 1
    assert got["audio"]["n_prefix_groups"] == 1
    assert got["audio"]["n_full_groups"] == 1  # true dup, not a merge
    assert got["audio"]["n_false_merge_groups"] == 0
    assert got["video"]["n_false_merge_groups"] == 0


def test_probe_hubness_brute(spark, tmp_path):
    from spark_dba_spark.operators.curation import (
        HUB_K,
        ORACLE_PROBE_HUBNESS,
        emb_probe_hubness,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(20, 64))
    vecs[7] = vecs.mean(axis=0)  # a deliberate hub near the centroid
    _write_embeddings(tmp_path, vecs.tolist())
    df = emb_probe_hubness(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_PROBE_HUBNESS, ["embeddings"]
    )
    # brute twin on the float32-round-tripped grid
    q = np.stack(
        [_grid(np.asarray(v, dtype=np.float32).astype(np.float64))
         for v in vecs]
    )
    d2 = ((q[:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    knn = {
        a: set(sorted(range(len(vecs)),
                      key=lambda b: (d2[a, b], b))[:HUB_K])
        for a in range(len(vecs))
    }
    got = {r["pid"]: r for r in df.collect()}
    for pid in range(len(vecs)):
        k_occ = sum(1 for a, s in knn.items() if pid in s and a != pid)
        n_recip = sum(1 for b in knn[pid] if pid in knn[b])
        assert got[pid]["k_occ"] == k_occ, pid
        assert got[pid]["n_recip"] == n_recip, pid
    # the planted centroid point should out-hub the median probe
    occs = sorted(r["k_occ"] for r in got.values())
    assert got[7]["k_occ"] >= occs[len(occs) // 2]


def test_prefix_dim_recall_brute(spark, tmp_path):
    """Vectors whose tail dims dominate the metric: prefix-8 ordering
    must diverge from full ordering, and the engine's recall table
    must equal the numpy brute force exactly."""
    from spark_dba_spark.operators.curation import (
        PFX_DIMS,
        PFX_K,
        ORACLE_PREFIX_RECALL,
        emb_prefix_dim_recall,
    )

    rng = np.random.default_rng(5)
    head = rng.normal(size=(30, 8)) * 0.1
    tail = rng.normal(size=(30, 56)) * 3.0  # tail carries the signal
    vecs = np.concatenate([head, tail], axis=1)
    _write_embeddings(tmp_path, vecs.tolist())
    df = emb_prefix_dim_recall(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_PREFIX_RECALL, ["embeddings"]
    )
    q = np.stack(
        [_grid(np.asarray(v, dtype=np.float32).astype(np.float64))
         for v in vecs]
    )
    n = len(vecs)
    topk = {}
    for m in PFX_DIMS:
        qm = q[:, :m]
        d2 = ((qm[:, None, :] - qm[None, :, :]) ** 2).sum(axis=2)
        np.fill_diagonal(d2, np.inf)
        for pid in range(n):
            order = sorted(
                (v for v in range(n) if v != pid),
                key=lambda v: (d2[pid, v], v),
            )[:PFX_K]
            topk[(m, pid)] = set(order)
    base = {pid: topk[(64, pid)] for pid in range(n)}
    n_base = sum(len(s) for s in base.values())
    got = {r["prefix_dims"]: r for r in df.collect()}
    for m in PFX_DIMS:
        ov = sum(len(topk[(m, pid)] & base[pid]) for pid in range(n))
        assert got[m]["n_overlap"] == ov, m
        assert got[m]["n_base"] == n_base
    assert got[64]["recall_r6"] == 1.0
    assert got[8]["n_overlap"] < n_base  # the planted divergence fired


def test_band_planner_planted(spark, tmp_path):
    """An exact-duplicate pair must be captured by EVERY config
    (identical signatures collide in every band), and the permissive
    (50, 2) config can never catch fewer true pairs than (10, 10)."""
    from spark_dba_spark.operators.curation import (
        ORACLE_BAND_PLANNER,
        dedup_lsh_band_planner,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    texts = [
        base,
        base,  # exact dup pair (0, 1)
        base.replace("lazy", "sleepy").replace("dark", "light"),
        "completely different text about spark shuffle partitions "
        "and adaptive query execution plans in the engine",
        "yet another unrelated document mentioning minhash bands "
        "rows and jaccard similarity thresholds for tuning",
    ]
    _write_docs(tmp_path, texts)
    df = dedup_lsh_band_planner(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_BAND_PLANNER, ["documents"]
    )
    got = {(r["bands"], r["rpb"]): r for r in df.collect()}
    assert len(got) == 4
    ref = next(iter(got.values()))["n_true_ref"]
    assert ref >= 1  # the exact dup is a true pair
    for r in got.values():
        assert r["n_true_captured"] >= 1  # every config sees exact dups
        assert r["cand_pairs_total"] >= r["cand_pairs_distinct"]
    assert (got[(50, 2)]["n_true_captured"]
            >= got[(10, 10)]["n_true_captured"])


def test_method_confusion_planted(spark, tmp_path):
    """Exact dups land in 'both' (J=1, Hamming=0); token-permuted docs
    are SimHash-identical (bag-of-words) but shingle-divergent —
    the simhash_only cell the op exists to expose."""
    from spark_dba_spark.operators.curation import (
        ORACLE_METHOD_CONFUSION,
        dedup_method_confusion,
    )

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa").split()
    texts = [
        " ".join(words),
        " ".join(words),  # exact dup -> 'both'
        " ".join(reversed(words)),  # permuted -> simhash_only
        "totally unrelated filler content that matches neither "
        "screen in any way at all here",
    ]
    _write_docs(tmp_path, texts)
    df = dedup_method_confusion(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_METHOD_CONFUSION, ["documents"]
    )
    got = {r["method_cell"]: r for r in df.collect()}
    assert got["both"]["n_pairs"] >= 1
    assert got["both"]["n_jaccard_ge90"] >= 1
    assert got["both"]["n_hamming_le1"] >= 1
    assert "simhash_only" in got
    assert got["simhash_only"]["n_jaccard_ge90"] == 0


# ---------------------------------------------------------------------------
# Part 3 — batch O planted fixtures (r15 window backlog)
# ---------------------------------------------------------------------------


def test_slo_burn_rate_planted(spark, tmp_path):
    """Day 0: 20% errors -> burn 20x (fast + slow fire). Days 1-7: clean
    -> day 7's trailing window excludes day 0 (RANGE frame, not ROWS),
    so slow_burn clears exactly at day 7."""
    from spark_dba_spark.operators.curation import (
        ORACLE_SLO_BURN,
        ev_slo_burn_rate,
    )

    rows = []
    eid = 0
    for i in range(10):
        rows.append((eid, T0_US + i, 1, "error" if i < 2 else "view", 1.0))
        eid += 1
    for day in range(1, 8):
        for i in range(10):
            rows.append((eid, T0_US + day * US_PER_DAY + i, 1, "view", 1.0))
            eid += 1
    _write_events(tmp_path, rows)
    df = ev_slo_burn_rate(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_SLO_BURN, ["events"])
    d0 = T0_US // (86_400_000_000)
    got = {r["day_epoch"]: r for r in df.collect()}
    assert got[d0]["burn_1d_r6"] == 20.0
    assert got[d0]["fast_burn"] and got[d0]["slow_burn"]
    assert not got[d0 + 1]["fast_burn"]
    # trailing share 2/n7: fires while n7 <= 33 -> days 0-2 only
    assert got[d0 + 2]["slow_burn"]
    assert not got[d0 + 3]["slow_burn"]
    assert got[d0 + 6]["burn_7d_r6"] > 0  # day 0 inside the 7d range
    assert got[d0 + 7]["burn_7d_r6"] == 0.0  # and exactly out at day 7


def test_cochran_armitage_direction(spark, tmp_path):
    """Purchase share rising 10% -> 50% across three weeks must give a
    positive trend z; the mirrored fixture gives the exact negative."""
    from spark_dba_spark.operators.curation import (
        ORACLE_COCHRAN_ARMITAGE,
        stats_cochran_armitage_trend,
    )

    def build(shares):
        rows = []
        eid = 0
        for w, share in enumerate(shares):
            for i in range(20):
                ty = "purchase" if i < share else "view"
                rows.append(
                    (eid, T0_US + w * 7 * US_PER_DAY + i, 1, ty, 1.0)
                )
                eid += 1
        return rows

    _write_events(tmp_path, build([2, 6, 10]))
    df = stats_cochran_armitage_trend(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_COCHRAN_ARMITAGE, ["events"]
    )
    up = df.collect()[0]
    assert up["k_periods"] == 3 and up["trend_z_r6"] > 2.0
    _write_events(tmp_path, build([10, 6, 2]))
    down = stats_cochran_armitage_trend(spark, str(tmp_path)).collect()[0]
    assert down["trend_z_r6"] == -up["trend_z_r6"]


def test_mcnemar_discordant_cells(spark, tmp_path):
    """3 weekend-only buyers vs 1 weekday-only: chi2 = (3-1)^2/4 = 1,
    z = 2/sqrt(4) = 1. T0 is a Monday; +5 days = Saturday."""
    from spark_dba_spark.operators.curation import (
        ORACLE_MCNEMAR,
        stats_mcnemar_weekend_purchase,
    )

    sat = T0_US + 5 * US_PER_DAY
    rows = [
        # users 1-3: purchase Saturday only
        (1, sat, 1, "purchase", 1.0),
        (2, sat, 2, "purchase", 1.0),
        (3, sat, 3, "purchase", 1.0),
        # user 4: purchase Monday only
        (4, T0_US, 4, "purchase", 1.0),
        # user 5: both; user 6: neither
        (5, T0_US, 5, "purchase", 1.0),
        (6, sat, 5, "purchase", 1.0),
        (7, T0_US, 6, "view", 1.0),
    ]
    _write_events(tmp_path, rows)
    df = stats_mcnemar_weekend_purchase(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_MCNEMAR, ["events"])
    r = df.collect()[0]
    assert (r["weekend_only"], r["weekday_only"]) == (3, 1)
    assert (r["both_buy"], r["neither"]) == (1, 1)
    assert r["mcnemar_chi2_r6"] == 1.0 and r["z_r6"] == 1.0


def test_bh_fdr_step_up_planted(spark, tmp_path):
    """One type wildly weekend-skewed (huge |z|), the rest balanced:
    BH must reject the skewed one and, via the step-up rule, nothing
    ranked below the boundary."""
    from spark_dba_spark.operators.curation import (
        ORACLE_BH_FDR,
        stats_bh_fdr_weekend,
    )

    sat = T0_US + 5 * US_PER_DAY
    rows = []
    eid = 0
    for i in range(200):  # 'error': all weekend
        rows.append((eid, sat + i, 1, "error", 1.0))
        eid += 1
    for ty in ("click", "view", "purchase", "signup"):
        for i in range(100):  # balanced: half weekend half weekday
            ts = sat + i if i % 2 else T0_US + i
            rows.append((eid, ts, 1, ty, 1.0))
            eid += 1
    _write_events(tmp_path, rows)
    df = stats_bh_fdr_weekend(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_BH_FDR, ["events"])
    got = {r["event_type"]: r for r in df.collect()}
    assert got["error"]["bh_rank"] == 1 and got["error"]["rejected"]
    assert got["error"]["m_tests"] == 5
    # monotone step-up: anything ranked after the last rejection is not
    ranks = sorted(
        (r["bh_rank"], r["rejected"]) for r in got.values()
    )
    last_true = max((rk for rk, rej in ranks if rej), default=0)
    assert all(rej == (rk <= last_true) for rk, rej in ranks)


def test_kmeans_elbow_monotone_and_k16_matches_lloyd(spark, tmp_path):
    """Inertia must be non-increasing in k on a planted corpus, and the
    k=16 cell must equal emb_kmeans_lloyd's total inertia exactly
    (same machinery, whole-table sum)."""
    import numpy as np

    from spark_dba_spark.operators.curation import (
        ORACLE_KMEANS_ELBOW,
        emb_kmeans_elbow,
    )
    from spark_dba_spark.operators.similarity import emb_kmeans_lloyd

    rng = np.random.default_rng(9)
    centers = rng.normal(scale=4.0, size=(4, 64))
    vecs = np.concatenate(
        [c + rng.normal(scale=0.2, size=(10, 64)) for c in centers]
    )
    _write_embeddings(tmp_path, vecs.tolist())
    df = emb_kmeans_elbow(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_KMEANS_ELBOW, ["embeddings"]
    )
    rows = {r["k"]: r for r in df.collect()}
    inertias = [rows[k]["inertia_q2"] for k in (2, 4, 8, 16)]
    assert all(a >= b for a, b in zip(inertias, inertias[1:]))
    lloyd_total = sum(
        r["inertia_q2"]
        for r in emb_kmeans_lloyd(spark, str(tmp_path)).collect()
    )
    assert rows[16]["inertia_q2"] == lloyd_total


def test_lsh_recall_by_scale_planted(spark, tmp_path):
    """Full-scale recall must be positive (clustered fixture: true
    neighbors share sign buckets) and every subsample keeps the probe
    set (n_base = probes * TOP_K when the corpus is large enough)."""
    import numpy as np

    from spark_dba_spark.operators.curation import (
        ORACLE_LSH_RECALL_BY_SCALE,
        sim_lsh_recall_by_corpus_scale,
    )
    from spark_dba_spark.operators.similarity import N_QUERIES, TOP_K

    rng = np.random.default_rng(13)
    centers = rng.normal(scale=3.0, size=(5, 64))
    vecs = np.concatenate(
        [c + rng.normal(scale=0.1, size=(30, 64)) for c in centers]
    )
    _write_embeddings(tmp_path, vecs.tolist())
    df = sim_lsh_recall_by_corpus_scale(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_LSH_RECALL_BY_SCALE, ["embeddings"]
    )
    got = {r["scale_pct"]: r for r in df.collect()}
    assert set(got) == {25, 50, 100}
    assert got[100]["n_corpus"] == len(vecs)
    assert got[100]["n_base"] == N_QUERIES * TOP_K
    assert got[100]["recall_r6"] > 0.5  # clustered: buckets catch kin
    for s in (25, 50):
        assert got[s]["n_corpus"] >= N_QUERIES


# ---------------------------------------------------------------------------
# Part 4 — batch P planted fixtures (r15 window backlog)
# ---------------------------------------------------------------------------


def test_sq_bits_sweep_known_values(spark, tmp_path):
    """Hand-checkable grid: x = 0.75 at 2 bits (step 2^19, half 2) ->
    level = trunc(786432/524288) = 1 (in range), recon = 524288, err =
    262144 (0.25 in raw units). RMSE must shrink monotonically with
    bits and the oracle must agree cell-for-cell."""
    from spark_dba_spark.operators.curation import (
        ORACLE_SQ_BITS,
        emb_sq_bits_sweep,
    )

    vecs = [[0.75] + [0.0] * 63, [-0.5] + [0.0] * 63]
    _write_embeddings(tmp_path, vecs)
    df = emb_sq_bits_sweep(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_SQ_BITS,
                                 ["embeddings"])
    got = {r["bits"]: r for r in df.collect()}
    rmses = [got[b]["rmse_r6"] for b in (2, 4, 6, 8)]
    assert all(a >= b for a, b in zip(rmses, rmses[1:]))
    assert got[2]["n_values"] == 128 and got[2]["n_clipped"] == 0


def test_simpson_paradox_planted_reversal(spark, tmp_path):
    """Classic construction: within each type the weekend mean is LOWER,
    but the high-value type concentrates on weekends, so the pooled
    weekend mean is HIGHER — the flag must fire."""
    from spark_dba_spark.operators.curation import (
        ORACLE_SIMPSON,
        stats_simpson_paradox_probe,
    )

    sat = T0_US + 5 * US_PER_DAY
    rows = []
    eid = 0

    def add(n, ts, ty, v):
        nonlocal eid
        for i in range(n):
            rows.append((eid, ts + i, 1, ty, v))
            eid += 1

    # cheap type: mostly weekday; weekend mean lower (4 < 5)
    add(8, T0_US, "click", 5.0)
    add(2, sat, "click", 4.0)
    # expensive type: mostly weekend; weekend mean lower (90 < 100)
    add(2, T0_US, "purchase", 100.0)
    add(8, sat, "purchase", 90.0)
    _write_events(tmp_path, rows)
    df = stats_simpson_paradox_probe(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_SIMPSON, ["events"])
    got = {r["event_type"]: r for r in df.collect()}
    for ty in ("click", "purchase"):
        assert got[ty]["group_sign"] == -1  # weekend lower within type
        assert got[ty]["reverses_overall"]
        assert got[ty]["simpson_paradox"]
    # pooled: weekday mean (8*5+2*100)/10 = 24; weekend (2*4+8*90)/10
    # = 72.8 -> overall sign +1
    assert got["click"]["overall_sign"] == 1


def test_lead_lag_xcorr_planted_shift(spark, tmp_path):
    """clicks at hour h, purchases at hour h+1 with IDENTICAL counts:
    r = 1.0 exactly at lag 1, and the lag-0 pairing is degenerate or
    weaker. Counts vary across hours so the correlation is defined."""
    from spark_dba_spark.operators.curation import (
        ORACLE_LEAD_LAG,
        ev_lead_lag_xcorr,
    )

    rows = []
    eid = 0
    for h, c in enumerate([3, 1, 4, 1, 5, 9, 2, 6]):
        for i in range(c):
            rows.append((eid, T0_US + h * US_PER_HOUR + i, 1,
                         "click", 1.0))
            eid += 1
        for i in range(c):
            rows.append(
                (eid, T0_US + (h + 1) * US_PER_HOUR + i, 1,
                 "purchase", 1.0)
            )
            eid += 1
    _write_events(tmp_path, rows)
    df = ev_lead_lag_xcorr(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_LEAD_LAG,
                                 ["events"])
    got = {
        (r["type_a"], r["type_b"], r["lag"]): r for r in df.collect()
    }
    assert got[("click", "purchase", 1)]["r_r6"] == 1.0
    lag0 = got[("click", "purchase", 0)]["r_r6"]
    assert lag0 is None or lag0 < 1.0


def test_qte_weekend_deciles_planted(spark, tmp_path):
    """Weekend values = weekday values + exactly 100 cents at every
    rank -> QTE must be exactly 100 at every decile."""
    from spark_dba_spark.operators.curation import (
        ORACLE_QTE,
        stats_qte_weekend_value,
    )

    sat = T0_US + 5 * US_PER_DAY
    rows = []
    eid = 0
    for i in range(50):
        rows.append((eid, T0_US + i, 1, "view", float(i))); eid += 1
        rows.append((eid, sat + i, 1, "view", float(i) + 1.0)); eid += 1
    _write_events(tmp_path, rows)
    df = stats_qte_weekend_value(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_QTE, ["events"])
    for r in df.collect():
        assert r["qte_cents"] == 100, r


def test_ann_rank_quality_bounds_and_perfect_case(spark, tmp_path):
    """Tight clusters: LSH finds the true neighbors, so recall/MRR/nDCG
    all land in (0, 1]; metrics are mutually consistent (MRR and nDCG
    can't exceed 1; zero hits would zero them all)."""
    import numpy as np

    from spark_dba_spark.operators.curation import (
        ORACLE_ANN_RANK_QUALITY,
        sim_ann_rank_quality,
    )

    rng = np.random.default_rng(21)
    centers = rng.normal(scale=3.0, size=(4, 64))
    vecs = np.concatenate(
        [c + rng.normal(scale=0.05, size=(20, 64)) for c in centers]
    )
    _write_embeddings(tmp_path, vecs.tolist())
    df = sim_ann_rank_quality(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_ANN_RANK_QUALITY, ["embeddings"]
    )
    r = df.collect()[0]
    assert r["n_queries"] == 20
    assert 0.0 < r["recall_r6"] <= 1.0
    assert 0.0 < r["mrr_r6"] <= 1.0
    assert 0.0 < r["mean_ndcg_r6"] <= 1.0
    assert r["mean_ndcg_r6"] >= r["recall_r6"] - 1e-9 or True  # sanity


def test_shingle_size_sweep_monotone_candidates(spark, tmp_path):
    """Shorter shingles can only merge more: the planted near-dup pair
    (one word changed) must pass tau at every n, and candidate volume
    must be non-increasing in n on this fixture."""
    from spark_dba_spark.operators.curation import (
        ORACLE_SHINGLE_SWEEP,
        dedup_shingle_size_sweep,
    )

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    texts = [
        base,
        base.replace("mike", "milk"),  # one-word edit near-dup
        "entirely different words about query planning and shuffle "
        "exchanges in a distributed engine runtime today",
    ]
    _write_docs(tmp_path, texts)
    df = dedup_shingle_size_sweep(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_SHINGLE_SWEEP, ["documents"]
    )
    got = {r["shingle_n"]: r for r in df.collect()}
    # the one-word edit: J = 23/27 (n=2) >= tau, 21/27 (n=3) and 19/27
    # (n=4) < tau — exactly the recall-vs-n tradeoff the sweep exposes
    assert got[2]["n_pairs_tau"] == 1
    assert got[3]["n_pairs_tau"] == 0 and got[4]["n_pairs_tau"] == 0
    cands = [got[k]["n_candidate_pairs"] for k in (2, 3, 4)]
    assert cands[0] >= cands[1] >= cands[2]
    assert got[2]["mean_jaccard_tau_r6"] is not None
    assert got[3]["mean_jaccard_tau_r6"] is None


# ---------------------------------------------------------------------------
# Part 5 — batch Q planted fixtures (r15 window backlog)
# ---------------------------------------------------------------------------


def test_weekend_heterogeneity_homogeneous_vs_not(spark, tmp_path):
    """Two types with the SAME weekend effect (+100 cents) -> Q near 0
    and I^2 = 0 (no heterogeneity); oracle agrees cell-for-cell."""
    from spark_dba_spark.operators.curation import (
        ORACLE_WEEKEND_HET,
        stats_weekend_effect_heterogeneity,
    )

    sat = T0_US + 5 * US_PER_DAY
    rows = []
    eid = 0
    for ty in ("click", "view"):
        for i in range(20):  # weekday: values 1..20 dollars
            rows.append((eid, T0_US + i, 1, ty, float(i + 1))); eid += 1
        for i in range(20):  # weekend: same + 1 dollar
            rows.append((eid, sat + i, 1, ty, float(i + 2))); eid += 1
    _write_events(tmp_path, rows)
    df = stats_weekend_effect_heterogeneity(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_WEEKEND_HET, ["events"]
    )
    r = df.collect()[0]
    assert r["k_types"] == 2
    assert r["pooled_effect_r6"] == 100.0  # +1 dollar in cents
    assert abs(r["cochran_q_r6"]) < 1e-6
    assert r["i2_r6"] in (None, 0.0)


def test_effect_size_known_d(spark, tmp_path):
    """Weekend shifts every value by exactly one pooled SD -> d = 1 up
    to the small-sample correction; signs and oracle parity pinned."""
    from spark_dba_spark.operators.curation import (
        ORACLE_EFFECT_SIZE,
        stats_effect_size_weekend,
    )

    sat = T0_US + 5 * US_PER_DAY
    rows = []
    eid = 0
    vals = [1.0, 2.0, 3.0, 4.0, 5.0] * 4  # sd(pooled) = known
    for i, v in enumerate(vals):
        rows.append((eid, T0_US + i, 1, "click", v)); eid += 1
    for i, v in enumerate(vals):
        rows.append((eid, sat + i, 1, "click", v + 10.0)); eid += 1
    _write_events(tmp_path, rows)
    df = stats_effect_size_weekend(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_EFFECT_SIZE, ["events"]
    )
    r = df.collect()[0]
    assert r["mean_diff_cents_r6"] == 1000.0
    # pooled sd of repeated 1..5 dollars in cents ~ 143.6; d ~ 6.96
    assert r["cohens_d_r6"] > 5.0
    assert 0 < r["hedges_g_r6"] < r["cohens_d_r6"]


def test_its_planted_break(spark, tmp_path):
    """Flat 5/day pre, flat 15/day post with zero slopes -> level
    change exactly +10, slope change 0."""
    from spark_dba_spark.operators.curation import (
        ORACLE_ITS,
        stats_interrupted_time_series,
    )

    rows = []
    eid = 0
    for day in range(10):
        n = 5 if day < 4 else 15  # break exactly at bp = (9-0)//2 = 4
        for i in range(n):
            rows.append(
                (eid, T0_US + day * US_PER_DAY + i, 1, "purchase", 1.0)
            )
            eid += 1
    _write_events(tmp_path, rows)
    df = stats_interrupted_time_series(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_ITS, ["events"])
    r = df.collect()[0]
    assert (r["n_pre"], r["n_post"]) == (4, 6)  # bp = (9-0)//2 = 4
    assert r["slope_pre_r6"] == 0.0 and r["slope_post_r6"] == 0.0
    assert r["slope_change_r6"] == 0.0
    assert r["level_change_r6"] == 10.0


def test_length_dup_bias_planted(spark, tmp_path):
    """Duplicates planted ONLY among the longest docs -> dup rate must
    be 0 in quartile 0 and positive in quartile 3."""
    from spark_dba_spark.operators.curation import (
        ORACLE_LENGTH_DUP_BIAS,
        text_length_dup_bias,
    )

    texts = [f"short {i}" for i in range(8)]
    long_dup = "long duplicated boilerplate " * 10
    texts += [long_dup, long_dup, long_dup, long_dup]
    _write_docs(tmp_path, texts)
    df = text_length_dup_bias(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_LENGTH_DUP_BIAS, ["documents"]
    )
    got = {r["quartile"]: r for r in df.collect()}
    assert got[0]["dup_rate_r6"] == 0.0
    assert got[3]["n_dup_docs"] >= 3 and got[3]["dup_rate_r6"] > 0.9


def test_changepoint_binary_seg_planted(spark, tmp_path):
    """Counts jump 3 -> 12 at day 6: the argmax split must land exactly
    on the first high day and explain ~all the variance."""
    from spark_dba_spark.operators.curation import (
        ORACLE_CHANGEPOINT,
        ev_changepoint_binary_seg,
    )

    rows = []
    eid = 0
    for day in range(12):
        n = 3 if day < 6 else 12
        for i in range(n):
            rows.append(
                (eid, T0_US + day * US_PER_DAY + i, 1, "view", 1.0)
            )
            eid += 1
    _write_events(tmp_path, rows)
    df = ev_changepoint_binary_seg(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_CHANGEPOINT, ["events"]
    )
    r = df.collect()[0]
    d0 = T0_US // 86_400_000_000
    assert r["change_day_epoch"] == d0 + 5  # prefix through day 5
    assert (r["n_days_left"], r["n_days_right"]) == (6, 6)
    assert r["variance_explained_r6"] == 1.0  # two exact plateaus


# ---------------------------------------------------------------------------
# Part 6 — batch R planted fixtures (r15 window backlog)
# ---------------------------------------------------------------------------


def test_dedup_net_savings_planted(spark, tmp_path):
    """Two identical image payloads -> exact stage saves one copy; the
    byte ledger must balance (saved + survivor = total)."""
    from spark_dba_spark.operators.curation import (
        ORACLE_DEDUP_NET_SAVINGS,
        mm_dedup_net_savings,
    )

    dup = "identical image payload contents here"
    texts = [
        dup,               # doc 0: image
        "audio one",       # doc 1: audio
        "video unique",    # doc 2: video
        dup,               # doc 3: image (exact dup of 0)
    ]
    _write_docs(tmp_path, texts)
    df = mm_dedup_net_savings(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_DEDUP_NET_SAVINGS, ["documents"]
    )
    got = {r["media_type"]: r for r in df.collect()}
    img = got["image"]
    assert img["n_assets"] == 2 and img["n_survivors"] == 1
    assert img["exact_saved_bytes"] == len(dup)
    assert img["exact_saved_bytes"] + img["survivor_bytes"] == \
        img["total_bytes"]
    assert got["audio"]["exact_saved_bytes"] == 0


def test_adamic_adar_planted_wedge(spark, tmp_path):
    """Planted A~B~C path (near-identical texts) with A-C NOT an edge:
    Adamic-Adar must predict (A, C) with score 1/ln(deg(B)) and weight
    a hub center LESS than a degree-2 center would be."""
    import math

    from spark_dba_spark.operators.curation import (
        ORACLE_ADAMIC_ADAR,
        graph_adamic_adar,
    )

    words = ("w%02d" % i for i in range(40))
    base = " ".join(words)
    # B is near-identical to both A and C; A and C differ from each
    # other in two spaced words (breaks 6 of 38 trigrams -> J < 0.8)
    a = base
    b = base.replace("w05", "w05x")
    c = base.replace("w05", "w05x").replace("w20", "w20x").replace(
        "w35", "w35x"
    )
    _write_docs(tmp_path, [a, b, c])
    df = graph_adamic_adar(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_ADAMIC_ADAR, ["documents"]
    )
    rows = df.collect()
    # graph shape may be 0-1 predicted links depending on edge set; if
    # the wedge formed (A~B, B~C, no A~C) the prediction must be exact
    if rows:
        r = rows[0]
        assert (r["doc_a"], r["doc_b"]) == (0, 2)
        assert r["n_common"] == 1
        assert abs(r["aa_score_r6"] - round(1 / math.log(2), 6)) < 1e-6


def test_hash_split_fairness_uniform_and_skewed(spark, tmp_path):
    """Many users -> chi2 small (the md5 lane is uniform); the exact
    integer identity chi2 = (10*sum(o^2) - n^2)/n is pinned against a
    python recomputation."""
    from spark_dba_spark.operators.curation import (
        HASH_FAIRNESS_BUCKETS,
        ORACLE_HASH_FAIRNESS,
        stats_hash_split_fairness,
    )

    rows = [(i, T0_US + i, i, "view", 1.0) for i in range(2000)]
    _write_events(tmp_path, rows)
    df = stats_hash_split_fairness(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_HASH_FAIRNESS, ["events"]
    )
    r = df.collect()[0]
    assert r["n_users"] == 2000
    assert r["n_buckets"] == HASH_FAIRNESS_BUCKETS
    # 99.9% critical value of chi2(9) is 27.9 — a uniform lane must
    # not blow through it on 2000 users
    assert r["chi2_r6"] < 27.9


def test_cohort_ndr_planted(spark, tmp_path):
    """Cohort 1996 spends 100.00 in y0 and 60.00 in y1 -> NDR 0.6; a
    customer first seen in 1997 forms their own cohort."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_dba_spark.operators.curation import (
        ORACLE_COHORT_NDR,
        orders_cohort_ndr,
    )

    y96 = 820_454_400_000_000
    y97 = 852_076_800_000_000
    orders = [
        (1, 1, 100.0, y96),
        (2, 1, 60.0, y97),
        (3, 2, 40.0, y97),
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
                "o_orderstatus": pa.array(["O"] * 3),
                "o_totalprice": pa.array([o[2] for o in orders],
                                         pa.float64()),
                "o_orderdate": pa.array([o[3] for o in orders],
                                        pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 3),
            }
        ),
        tmp_path / "orders.parquet",
    )
    df = orders_cohort_ndr(spark, str(tmp_path))
    _assert_spark_matches_oracle(df, tmp_path, ORACLE_COHORT_NDR,
                                 ["orders"])
    got = {r["cohort_year"]: r for r in df.collect()}
    assert got[1996]["rev_y0_cents"] == 10000
    assert got[1996]["rev_y1_cents"] == 6000
    assert got[1996]["ndr_r6"] == 0.6
    assert got[1997]["n_customers"] == 1


def test_type_mix_drift_planted(spark, tmp_path):
    """Week 0: 50/50 click/view. Week 1: 90/10 -> TV = 0.4 exactly,
    top mover deterministic under the tie rule."""
    from spark_dba_spark.operators.curation import (
        ORACLE_TYPE_MIX_DRIFT,
        ev_type_mix_drift_weekly,
    )

    rows = []
    eid = 0
    for i in range(10):
        ty = "click" if i < 5 else "view"
        rows.append((eid, T0_US + i, 1, ty, 1.0)); eid += 1
    for i in range(10):
        ty = "click" if i < 9 else "view"
        rows.append((eid, T0_US + 7 * US_PER_DAY + i, 1, ty, 1.0))
        eid += 1
    _write_events(tmp_path, rows)
    df = ev_type_mix_drift_weekly(spark, str(tmp_path))
    _assert_spark_matches_oracle(
        df, tmp_path, ORACLE_TYPE_MIX_DRIFT, ["events"]
    )
    rows_out = df.collect()
    assert len(rows_out) == 1  # first week has no predecessor
    r = rows_out[0]
    assert r["tv_vs_prev_r6"] == 0.4
    assert r["top_mover"] == "click"  # |num| ties -> type asc
