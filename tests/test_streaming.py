"""Structured Streaming jobs: stream output must equal the batch twin
(which the DuckDB oracle gates), closing the streaming-correctness loop."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR, normalize_rows

from spark_dba_spark.streaming import jobs


def _rows(df):
    return normalize_rows([tuple(r) for r in df.collect()], df.columns)


def test_tumbling_stream_equals_batch(spark):
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_tumbling_stream(spark, SF_DIR, "t_tumbling_eq")
    batch_out = batch_equiv.ev_tumbling_1h(spark, SF_DIR)
    assert sorted(stream_out.columns) == sorted(batch_out.columns)
    assert _rows(stream_out) == _rows(batch_out)


def test_tumbling_watermarked_is_prefix_of_batch(spark):
    """Append mode emits exactly the windows the final watermark passed —
    a subset of batch output, and complete for old windows."""
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_tumbling_watermarked(spark, SF_DIR, "t_tumbling_wm")
    batch = batch_equiv.ev_tumbling_1h(spark, SF_DIR)
    stream_rows = set(map(repr, _rows(stream_out)))
    batch_rows = set(map(repr, _rows(batch)))
    assert stream_rows <= batch_rows
    assert len(stream_rows) > 0


def test_active_users_stream_is_prefix_of_batch(spark):
    """Chained stateful ops (streaming dedup → windowed count): the live
    hourly-active-users emits watermark-closed windows that must agree
    exactly with the batch twin's rows for those windows."""
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_active_users_stream(spark, SF_DIR, "t_active_users")
    batch = batch_equiv.ev_hourly_active_users(spark, SF_DIR)
    stream_rows = set(map(repr, _rows(stream_out)))
    batch_rows = set(map(repr, _rows(batch)))
    assert stream_rows <= batch_rows
    assert len(stream_rows) > 0


def test_sliding_stream_equals_batch(spark):
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_sliding_stream(spark, SF_DIR, "t_sliding_eq")
    batch_out = batch_equiv.ev_sliding_1h_30m(spark, SF_DIR)
    assert sorted(stream_out.columns) == sorted(batch_out.columns)
    assert _rows(stream_out) == _rows(batch_out)


def test_session_stream_equals_batch(spark):
    """session_window under a stream must produce the same merged sessions
    as its batch twin (which the gaps-and-islands oracle gates)."""
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_session_stream(spark, SF_DIR, "t_session_eq")
    batch_out = batch_equiv.ev_session_30m(spark, SF_DIR)
    assert sorted(stream_out.columns) == sorted(batch_out.columns)
    assert _rows(stream_out) == _rows(batch_out)


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream join must emit exactly the pair multiset
    the batch range join produces."""
    from pyspark.sql import functions as F

    from spark_dba_spark import catalog
    from spark_dba_spark.streaming import jobs
    from spark_dba_spark.streaming.batch_equiv import JOIN_WINDOW

    stream_pairs = jobs.run_click_error_join(spark, SF_DIR, "t_cej")
    ev = catalog.load(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    batch_pairs = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr(
            f"INTERVAL {JOIN_WINDOW}")),
    ).select("c_user", "click_id", "error_id")
    assert _rows(stream_pairs) == _rows(batch_pairs)
    assert stream_pairs.count() > 0


def test_dedup_stream_unique(spark):
    from spark_dba_spark.streaming import jobs

    out = jobs.run_dedup_stream(spark, SF_DIR, "t_dedup")
    total = out.count()
    distinct = out.select("event_id").distinct().count()
    assert total == distinct > 0


def test_watermark_closed_window_never_reemitted(spark, tmp_path):
    """Append-mode late-data contract: once the watermark closes and emits
    a window, later-arriving data for it must NOT re-emit or double-count
    it. (Dropping late rows pre-aggregation is best-effort in Spark; the
    exactly-once window emission IS the guarantee.)"""
    import glob
    import os
    import shutil

    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def write_batch(name, hours, mtime):
        rows = [
            (i, f"2024-01-01 {h:02d}:15:00", 1, "click", 1.0)
            for i, h in enumerate(hours)
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts_s string, user_id bigint, "
            "event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        df.coalesce(1).write.parquet(f"{landing}/_stage_{name}")
        src = glob.glob(f"{landing}/_stage_{name}/*.parquet")[0]
        shutil.move(src, f"{landing}/{name}.parquet")
        shutil.rmtree(f"{landing}/_stage_{name}")
        os.utime(f"{landing}/{name}.parquet", (mtime, mtime))

    base = 1_700_000_000
    write_batch("b1", list(range(10, 21)), base)  # hours 10..20
    write_batch("b2", [23], base + 100)  # advances watermark to 22:15
    write_batch("b3", [12], base + 200)  # LATE: window 12 already closed

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "value double, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withWatermark("ts", "1 hour")
    )
    q = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.hour("w.start").alias("h"), "n")
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_late").collect()
    per_hour = {}
    for r in rows:
        per_hour.setdefault(r["h"], []).append(r["n"])
    # window 12 was emitted exactly once, with only the on-time row counted
    assert per_hour[12] == [1], per_hour
    # every closed window emitted exactly once
    assert all(len(v) == 1 for v in per_hour.values()), per_hour
    assert set(range(10, 21)).issubset(per_hour), sorted(per_hour)


def test_stateful_user_totals_match_batch(spark):
    from spark_dba_spark import catalog
    from spark_dba_spark.streaming import jobs

    out = jobs.run_user_totals_stream(spark, SF_DIR, "t_totals")
    # update mode emits one row per key per micro-batch; the final emission
    # per user carries the complete running state.
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    batch = {
        r["user_id"]: r["n"]
        for r in catalog.load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(final) == len(batch)
    for r in final:
        assert r["n_events"] == batch[r["user_id"]]


def test_clean_corpus_stream_equals_batch(spark):
    """Streaming corpus cleaning (gate → hash-dedup → per-lang stats)
    produces the same copy-invariant statistics as the batch pipeline."""
    from spark_dba_spark.operators.text import pipeline_clean_corpus

    # Precondition the per-lang comparison relies on: duplicates of one
    # text share a lang (else which copy survives changes the grouping).
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert (
        docs.groupBy(F.md5("text"))
        .agg(F.countDistinct("lang").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )

    got = {
        r["lang"]: (r["n_docs"], r["total_tokens"], r["avg_tokens"])
        for r in jobs.run_clean_corpus_stream(
            spark, SF_DIR, "t_clean_corpus"
        ).collect()
    }
    want = {
        r["lang"]: (r["n_docs"], r["total_tokens"], r["avg_tokens"])
        for r in pipeline_clean_corpus(spark, SF_DIR).collect()
    }
    assert got == want


def test_span_decon_stream_equals_batch(spark):
    """The streaming span-decontamination job (stream-static broadcast
    join against the eval fingerprint index + complete-mode per-doc
    rollup) equals the batch twin row-for-row, including the rational
    hit share."""
    from spark_dba_spark.operators.text import doc_span_decontamination

    got = sorted(
        tuple(r)
        for r in jobs.run_span_decon_stream(
            spark, SF_DIR, "t_span_decon"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in doc_span_decontamination(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_byte_histogram_stream_equals_batch(spark):
    """The streaming byte-band histogram (shared banding projection,
    two complete-mode grains, shared share assembly) equals the batch
    op row-for-row."""
    from spark_dba_spark.operators.multimodal import (
        mm_payload_byte_histogram,
    )

    got = sorted(
        tuple(r)
        for r in jobs.run_byte_histogram_stream(
            spark, SF_DIR, "t_byte_hist"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in mm_payload_byte_histogram(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_corpus_funnel_stream_equals_batch(spark):
    """The streaming ingest funnel (raw → gated → unique per source)
    equals the batch twin row-for-row — including the exact-rational
    dup_ratio, which both sides compute from the same integer counts."""
    from spark_dba_spark.operators.text import corpus_funnel_stats

    got = [
        tuple(r)
        for r in jobs.run_corpus_funnel_stream(
            spark, SF_DIR, "t_corpus_funnel"
        ).collect()
    ]
    want = [tuple(r) for r in corpus_funnel_stats(spark, SF_DIR).collect()]
    assert got == want


def test_windowed_topk_stream_equals_batch(spark):
    """Streaming pre-agg + shared rank tail over the materialized view
    reproduces the batch windowed top-k exactly."""
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_windowed_topk_stream(spark, SF_DIR, "t_topk_eq")
    batch_out = batch_equiv.ev_windowed_topk(spark, SF_DIR)
    assert sorted(stream_out.columns) == sorted(batch_out.columns)
    assert _rows(stream_out) == _rows(batch_out)


def test_stream_alert_debounce_matches_batch(spark):
    """The stateful streaming debounce must emit exactly the batch
    operator's alert set (user, time, suppressed-count triples)."""
    from spark_dba_spark.operators.udf_surface import ev_alert_debounce
    from spark_dba_spark.streaming import jobs

    import calendar

    out = jobs.run_alert_debounce_stream(spark, SF_DIR, "t_debounce")
    streamed = {
        (r["user_id"], r["alert_um"], r["n_suppressed_before"])
        for r in out.collect()
    }

    def naive_to_um(dt):
        # tz-independent, integer-exact: alert_ts is TIMESTAMP_NTZ (a
        # naive datetime); datetime.timestamp() would interpret it in
        # the machine's local zone and go through lossy float seconds
        return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond

    batch = {
        (
            r["user_id"],
            naive_to_um(r["alert_ts"]),
            r["n_suppressed_before"],
        )
        for r in ev_alert_debounce(spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert streamed, "debounce emitted nothing"


def test_debounce_state_ignores_cross_batch_duplicates():
    """A duplicate (user, um) candidate arriving in a LATER micro-batch
    must be ignored entirely (np.unique only dedups within one batch) —
    without the last_seen state it would inflate the suppressed count
    and diverge from the batch operator's .distinct()."""
    import pandas as pd

    from spark_dba_spark.operators.udf_surface import ALERT_COOLDOWN_US
    from spark_dba_spark.streaming.jobs import _update_debounce

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeState()
    out1 = pd.concat(
        list(_update_debounce((1,), [pd.DataFrame({"um": [100]})], st))
    )
    assert list(out1["alert_um"]) == [100]
    # next batch replays the emitted candidate AND adds a suppressed one
    out2 = pd.concat(
        list(_update_debounce((1,), [pd.DataFrame({"um": [100, 200]})], st))
    )
    assert out2.empty  # 100 is a duplicate; 200 is inside the cooldown
    # a third batch past the cooldown emits with exactly ONE suppressed
    # (the duplicate must not have been counted)
    t3 = 100 + ALERT_COOLDOWN_US
    out3 = pd.concat(
        list(_update_debounce((1,), [pd.DataFrame({"um": [t3]})], st))
    )
    assert list(out3["alert_um"]) == [t3]
    assert list(out3["n_suppressed_before"]) == [1]


def test_stream_user_gap_matches_batch(spark):
    """The streaming max-gap state must equal the batch LAG-pairing max
    inter-event gap per user (integer-exact; tail gap is batch-only)."""
    from spark_dba_spark import catalog
    from spark_dba_spark.streaming import jobs
    from pyspark.sql import Window as W

    out = jobs.run_user_gap_stream(spark, SF_DIR, "t_gaps")
    final = {
        r["user_id"]: (r["n_events"], r["max_gap_us"])
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_gap_us").alias("max_gap_us"),
        )
        .collect()
    }
    ev = catalog.load(spark, SF_DIR, "events")
    um = F.expr("unix_micros(cast(ts as timestamp))")
    w = W.partitionBy("user_id").orderBy("um")
    batch = {
        r["user_id"]: (r["n"], r["mg"])
        for r in ev.select("user_id", um.alias("um"))
        .withColumn("prev", F.lag("um").over(w))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.max(F.col("um") - F.col("prev")), F.lit(0)
            ).alias("mg"),
        )
        .collect()
    }
    assert final == batch
    assert final


def test_debounce_stream_out_of_order_batches_per_contract(spark, tmp_path):
    """Drive the REAL applyInPandasWithState micro-batch machinery with
    batches that arrive OUT of event-time order across triggers and pin
    the documented contract (jobs.run_alert_debounce_stream docstring):
    a candidate older than the newest time already folded (um <=
    last_seen) is dropped entirely — not emitted, and NOT counted as
    suppressed. VERDICT r5 item 7 (the FakeState unit test above covers
    duplicates; this covers genuine disorder through a real stream)."""
    import glob
    import os
    import shutil

    from pyspark.sql import types as T
    from spark_dba_spark.operators.udf_surface import ALERT_COOLDOWN_US
    from spark_dba_spark.streaming.jobs import (
        _DEBOUNCE_SCHEMA,
        _DEBOUNCE_STATE,
        _update_debounce,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def write_batch(name, ums, mtime):
        df = spark.createDataFrame(
            [(1, um) for um in ums], "user_id bigint, um bigint"
        )
        df.coalesce(1).write.parquet(f"{landing}/_stage_{name}")
        src = glob.glob(f"{landing}/_stage_{name}/*.parquet")[0]
        shutil.move(src, f"{landing}/{name}.parquet")
        shutil.rmtree(f"{landing}/_stage_{name}")
        os.utime(f"{landing}/{name}.parquet", (mtime, mtime))

    day = 86_400 * 1_000_000
    base = 1_700_000_000
    write_batch("b1", [0 * day], base)  # emits (first alert)
    write_batch("b2", [8 * day, 9 * day], base + 100)  # emit + suppress
    write_batch("b3", [8 * day + day // 2], base + 200)  # LATE: dropped
    write_batch("b4", [16 * day], base + 300)  # emits; suppressed must be 1

    stream = (
        spark.readStream.schema("user_id bigint, um bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_debounce,
            outputStructType=_DEBOUNCE_SCHEMA,
            stateStructType=_DEBOUNCE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName("t_debounce_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r["alert_um"], r["n_suppressed_before"])
        for r in spark.table("t_debounce_ooo")
        .orderBy("alert_um")
        .collect()
    ]
    assert ALERT_COOLDOWN_US == 7 * day  # the timeline above assumes it
    # 0d emits; 8d emits (cooldown cleared); 9d suppressed; the late
    # 8.5d candidate is DROPPED (neither alert nor suppressed); 16d
    # emits with exactly ONE suppressed candidate before it.
    assert got == [(0, 0), (8 * day, 0), (16 * day, 1)], got


def test_gap_stream_out_of_order_batches_per_contract(spark, tmp_path):
    """Max-gap twin under cross-batch disorder: a late event is counted
    in n_events but contributes no gap, never moves `last` backwards,
    and cannot retroactively split a recorded gap (the documented
    divergence from batch under disorder — jobs.run_user_gap_stream)."""
    import glob
    import os
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout
    from spark_dba_spark.streaming.jobs import (
        _GAP_SCHEMA,
        _GAP_STATE,
        _update_gap,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def write_batch(name, ums, mtime):
        df = spark.createDataFrame(
            [(1, um) for um in ums], "user_id bigint, um bigint"
        )
        df.coalesce(1).write.parquet(f"{landing}/_stage_{name}")
        src = glob.glob(f"{landing}/_stage_{name}/*.parquet")[0]
        shutil.move(src, f"{landing}/{name}.parquet")
        shutil.rmtree(f"{landing}/_stage_{name}")
        os.utime(f"{landing}/{name}.parquet", (mtime, mtime))

    day = 86_400 * 1_000_000
    base = 1_700_000_000
    write_batch("b1", [0, 10 * day], base)  # gap 10d recorded
    write_batch("b2", [5 * day], base + 100)  # LATE: would split the gap
    write_batch("b3", [11 * day], base + 200)  # in-order again: gap 1d

    stream = (
        spark.readStream.schema("user_id bigint, um bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_gap,
            outputStructType=_GAP_SCHEMA,
            stateStructType=_GAP_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName("t_gap_ooo")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import functions as F

    final = (
        spark.table("t_gap_ooo")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max("max_gap_us").alias("mg"),
        )
        .collect()[0]
    )
    # 4 events counted; max gap stays the 10d recorded before the late
    # arrival (NOT the 5d a batch recompute over sorted data would give,
    # and NOT corrupted by a backwards `last`: 11d adds only a 1d gap)
    assert (final["n"], final["mg"]) == (4, 10 * day), final


def test_asset_ingest_stream_equals_batch(spark):
    """Stream (dropDuplicates state + parallel arrival counter) and
    batch (grouped countDistinct) must agree cell-for-cell on the
    per-modality ingest stats — both key on the shared projection and
    fingerprint expressions."""
    from spark_dba_spark.operators.multimodal import mm_asset_ingest_stats
    from spark_dba_spark.streaming import jobs

    got = sorted(
        tuple(r)
        for r in jobs.run_asset_ingest_stream(
            spark, SF_DIR, "t_asset_ingest"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in mm_asset_ingest_stats(spark, SF_DIR).collect()
    )
    assert got == want
    assert len(got) == 3  # image / audio / video all present


def test_stream_static_enrich_equals_batch(spark):
    """Stream-static join (event stream x broadcast customer dimension):
    the complete-mode rollup must equal the batch twin cell-for-cell —
    the join must not drop or duplicate stream rows across micro-batch
    boundaries."""
    from spark_dba_spark.streaming import batch_equiv, jobs

    stream_out = jobs.run_stream_static_enrich(spark, SF_DIR, "t_ss_enrich")
    batch_out = batch_equiv.ev_stream_static_enrich(spark, SF_DIR)
    assert sorted(stream_out.columns) == sorted(batch_out.columns)
    assert _rows(stream_out) == _rows(batch_out)


def test_byte_delta_stream_equals_batch(spark):
    """The streaming byte-delta smoothness profile (shared banding
    projection, two complete-mode grains, shared assembly contract)
    equals the batch op row-for-row."""
    from spark_dba_spark.operators.multimodal import mm_byte_delta_profile

    got = sorted(
        tuple(r)
        for r in jobs.run_byte_delta_stream(
            spark, SF_DIR, "t_byte_delta"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in mm_byte_delta_profile(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_chunk_cdc_stream_equals_batch(spark):
    """The streaming CDC chunk profile (shared cdc_chunks projection,
    two complete-mode grains so distinct-counts stream as row counts,
    shared assembly contract) equals the batch op row-for-row."""
    from spark_dba_spark.operators.curation import mm_chunk_cdc_profile

    got = sorted(
        tuple(r)
        for r in jobs.run_chunk_cdc_stream(
            spark, SF_DIR, "t_chunk_cdc"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in mm_chunk_cdc_profile(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_session_bounce_stream_equals_batch(spark):
    """The streaming session-bounce profile (session_window per user,
    daily rollup through the shared assemble contract) equals the batch
    islands op row-for-row — after asserting the fixture precondition
    that no user has an exactly-30:00.000000 inter-event gap (the one
    input where session_window's >= boundary and the batch islands' >
    boundary diverge)."""
    import duckdb

    from spark_dba_spark.operators.curation import ev_session_bounce_profile
    from spark_dba_spark.operators.temporal import SESSION_GAP_US

    con = duckdb.connect()
    n_exact = con.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ) AS gap
          FROM read_parquet('{SF_DIR}/events.parquet'))
        WHERE gap = {SESSION_GAP_US}
        """
    ).fetchone()[0]
    con.close()
    assert n_exact == 0, "fixture violates the boundary precondition"

    got = sorted(
        tuple(r)
        for r in jobs.run_session_bounce_stream(
            spark, SF_DIR, "t_session_bounce"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ev_session_bounce_profile(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_pii_audit_stream_equals_batch(spark):
    """The streaming PII screen (shared pii_per_doc projection + shared
    assemble contract) equals the batch op row-for-row."""
    from spark_dba_spark.operators.curation import text_pii_pattern_audit

    got = sorted(
        tuple(r)
        for r in jobs.run_pii_audit_stream(
            spark, SF_DIR, "t_pii_audit"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in text_pii_pattern_audit(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_error_rate_by_load_stream_equals_batch(spark):
    """The hour-grain complete-mode stream + shared decile assembly
    equals the batch load-vs-reliability op row-for-row (r14 twin)."""
    from spark_dba_spark.operators.curation import ev_error_rate_by_load

    got = sorted(
        tuple(r)
        for r in jobs.run_error_rate_by_load_stream(
            spark, SF_DIR, "t_error_load"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in ev_error_rate_by_load(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_slo_burn_stream_equals_batch(spark):
    """Day-grain complete-mode stream + shared burn assembly equals the
    batch SLO table row-for-row (r14 twin #2)."""
    from spark_dba_spark.operators.curation import ev_slo_burn_rate

    got = sorted(
        tuple(r)
        for r in jobs.run_slo_burn_stream(
            spark, SF_DIR, "t_slo_burn"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in ev_slo_burn_rate(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_type_mix_drift_stream_equals_batch(spark):
    """Week-by-type complete-mode stream + shared TV assembly equals
    the batch drift table row-for-row (r14 twin #3)."""
    from spark_dba_spark.operators.curation import ev_type_mix_drift_weekly

    got = sorted(
        tuple(r)
        for r in jobs.run_type_mix_drift_stream(
            spark, SF_DIR, "t_mix_drift"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ev_type_mix_drift_weekly(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_friedman_stream_equals_batch(spark):
    """Day-by-type complete-mode decimal sums + shared Friedman
    assembly equals the batch statistic row-for-row (r14 twin #13)."""
    from spark_dba_spark.operators.analytics import (
        stats_friedman_daily_types,
    )

    got = sorted(
        tuple(r)
        for r in jobs.run_friedman_stream(
            spark, SF_DIR, "t_friedman"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in stats_friedman_daily_types(spark, SF_DIR).collect()
    )
    assert got == want and len(got) == 1


def test_hurst_stream_equals_batch(spark):
    """Complete-mode daily counts + shared variance-time assembly
    equals the batch Hurst readout (r14 twin #14)."""
    from spark_dba_spark.operators.analytics import ev_hurst_variance_plot

    got = sorted(
        tuple(r)
        for r in jobs.run_hurst_stream(spark, SF_DIR, "t_hurst").collect()
    )
    want = sorted(
        tuple(r)
        for r in ev_hurst_variance_plot(spark, SF_DIR).collect()
    )
    assert got == want and len(got) == 1


def test_max_drawdown_stream_equals_batch(spark):
    """Day-grain complete-mode stream + shared drawdown assembly equals
    the batch peak-drawdown op row-for-row (r14 third-window twin)."""
    from spark_dba_spark.operators.analytics import ev_max_drawdown_daily

    got = sorted(
        tuple(r)
        for r in jobs.run_max_drawdown_stream(
            spark, SF_DIR, "t_max_dd"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in ev_max_drawdown_daily(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_kuiper_hour_stream_equals_batch(spark):
    """(type x 24) complete-mode stream + shared Kuiper assembly equals
    the batch circular-uniformity test row-for-row (r14 twin)."""
    from spark_dba_spark.operators.analytics import (
        stats_kuiper_hour_uniformity,
    )

    got = sorted(
        tuple(r)
        for r in jobs.run_kuiper_hour_stream(
            spark, SF_DIR, "t_kuiper_hr"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in stats_kuiper_hour_uniformity(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_capacity_shed_stream_equals_batch(spark):
    """Hour-grain complete-mode stream + shared shed assembly equals
    the batch p90 what-if row-for-row (r14 twin)."""
    from spark_dba_spark.operators.analytics import ev_capacity_shed_whatif

    got = sorted(
        tuple(r)
        for r in jobs.run_capacity_shed_stream(
            spark, SF_DIR, "t_cap_shed"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in ev_capacity_shed_whatif(spark, SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_jobs_start_queries_only_through_the_sink_helper():
    """Every streaming job runs its queries through ``jobs._sink``: the
    module's source holds exactly one ``.writeStream``, the one inside that
    helper, so the availableNow memory-sink block is not copied per job."""
    import inspect

    assert inspect.getsource(jobs).count(".writeStream") == 1
    assert ".writeStream" in inspect.getsource(jobs._sink)


def test_registry_does_not_import_streaming_jobs():
    """The batch side of each twin owns the shared grain and never imports
    ``streaming.jobs``, so building the registry does not load it."""
    import subprocess
    import sys
    from pathlib import Path

    probe = (
        "import sys; from spark_dba_spark import registry; "
        "registry.all_specs(); "
        "print('spark_dba_spark.streaming.jobs' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        check=True, cwd=Path(__file__).resolve().parent.parent,
    )
    assert out.stdout.strip() == "False"
