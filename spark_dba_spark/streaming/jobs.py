"""Structured Streaming jobs over events-shaped data.

The reference has no streaming surface (SURVEY.md §2.4); this layer provides
it Spark-natively: file-source ``readStream`` → event-time windowed
aggregation with watermarks → sink. A twin's transformation is *shared*
with its batch form (in :mod:`batch_equiv` or an operator module), so the
DuckDB oracle that gates the batch form transitively gates the streaming
semantics; the pytest suite closes the loop by asserting stream output ==
batch output under an availableNow run.

The twin rule: a batch op is ``assemble(grain(source))``, with the grain
(the pre-aggregation over the fact rows) defined beside the batch op; its
stream twin here is ``assemble(sink(grain(stream source)))``: the SAME
grain function over ``stream_events`` / ``stream_documents``, one
``_sink`` (availableNow memory-sink queries), then the same assemble tail
over the sink tables. Where streaming forbids the batch form, the stream
keeps its own code and its docstring or comment says why: watermarks need
TIMESTAMP (so ts is cast and watermarked first, and window bounds are cast
back to NTZ), one query cannot aggregate an aggregate (complete mode), no
``countDistinct`` (``dropDuplicates`` state instead), no lag/rank window
over the unbounded stream (``session_window``, or a rank tail over the
sink). Steps only the batch needs stay at the batch call site: the
``repartition`` ahead of a byte fan-out, the ``localCheckpoint`` of cells
that feed a second batch aggregation, the final ordering of a grain. (An
assemble tail may checkpoint its bounded input; a sink table is one too.)

Scale posture: file streams shard by file; watermarks bound state; the
``applyInPandasWithState`` operators (``run_user_totals_stream`` and the
debounce and gap trackers) key state by user_id so state is partitioned
across executors (no timeout: a user's state lives as long as the query).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import catalog
from ..functions.numeric import rat_round6_spark
from ..session import ensure_session_invariants
from .batch_equiv import (
    SESSION_GAP,
    click_error_pairs,
    click_error_sides,
    segment_rollup,
    session_counts,
    sliding_counts,
    topk_counts,
    topk_rank_tail,
    tumbling_counts,
)


def _file_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one fixture table with the batch reader's
    schema, one file per trigger."""
    ensure_session_invariants(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    # The fixture table is a single file, but file-source streams want a
    # directory: stream the sf_dir with a glob filter. In production this
    # would be a landing directory files arrive into.
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture with the batch layer's
    exact schema and ts normalization (nanos long → TIMESTAMP_NTZ)."""
    return catalog._normalize_events(_file_stream(spark, sf_dir, "events"))


def _watermarked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_events`` with ts cast to TIMESTAMP and a 1-hour watermark.

    Watermarks require TIMESTAMP (not NTZ); under the UTC session invariant
    the cast is value-preserving."""
    return (
        stream_events(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )


def _ntz(df: DataFrame, *cols: str) -> DataFrame:
    """Cast watermarked window bounds back to TIMESTAMP_NTZ, so schemas
    line up with the batch twin."""
    return df.withColumns({c: F.col(c).cast("timestamp_ntz") for c in cols})


def _sink(
    spark: SparkSession, mode: str, queries: dict[str, DataFrame]
) -> list[DataFrame]:
    """Run each named streaming DataFrame as a ``memory``-sink query under
    ``trigger(availableNow=True)`` in output ``mode``, and return the sink
    tables in the same order. Every query starts before any is awaited, so
    the queries of a multi-query twin run side by side."""
    running = [
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
        for name, df in queries.items()
    ]
    for q in running:
        q.awaitTermination()
    return [spark.table(name) for name in queries]


def run_tumbling_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "tumbling_stream"
) -> DataFrame:
    """availableNow run of the tumbling aggregation into a memory sink
    (complete mode → all windows emitted). Returns the sink contents. The
    grain is the shared ``batch_equiv.tumbling_counts`` of
    ``ev_tumbling_1h``."""
    grain = tumbling_counts(stream_events(spark, sf_dir))
    return _sink(spark, "complete", {query_name: grain})[0]


def run_tumbling_watermarked(
    spark: SparkSession, sf_dir: str, query_name: str = "tumbling_wm"
) -> DataFrame:
    """Append-mode variant with a 1h watermark: only windows the watermark
    has passed are emitted — the late-data-tolerant production shape.

    Watermarks require TIMESTAMP (not NTZ); under the UTC session invariant
    the cast is value-preserving, and the output windows are cast back so
    schemas line up with the batch twin."""
    grain = _ntz(
        tumbling_counts(_watermarked_events(spark, sf_dir)),
        "win_start",
        "win_end",
    )
    return _sink(spark, "append", {query_name: grain})[0]


def run_active_users_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "active_users_stream"
) -> DataFrame:
    """Hourly-active-users as a live stream: dropDuplicates on
    (hour, user) followed by a windowed count — two chained STATEFUL
    operators (streaming dedup → streaming aggregation), the pipeline
    shape Spark 3.4+ unlocked for exact windowed distinct. Watermarked
    append mode: only watermark-closed windows emit, so the result is a
    prefix of the batch twin (same contract as run_tumbling_watermarked).
    The batch twin's ``distinct()`` has no streaming form, so this job
    keeps its own code.
    """
    deduped = (
        _watermarked_events(spark, sf_dir)
        .select(F.window("ts", "1 hour").alias("w"), "ts", "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    counts = (
        deduped.groupBy("w")
        .agg(F.count("*").alias("active_users"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "active_users",
        )
    )
    return _sink(spark, "append", {query_name: counts})[0]


def run_dedup_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "dedup_stream"
) -> DataFrame:
    """Streaming exact-dedup on event_id with watermark-bounded state."""
    firsts = (
        _watermarked_events(spark, sf_dir)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _sink(spark, "append", {query_name: firsts})[0]


def run_sliding_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "sliding_stream"
) -> DataFrame:
    """1h/30m sliding-window aggregation (the shared
    ``batch_equiv.sliding_counts`` grain of ev_sliding_1h_30m) under an
    availableNow streaming run."""
    grain = sliding_counts(stream_events(spark, sf_dir))
    return _sink(spark, "complete", {query_name: grain})[0]


def run_session_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "session_stream"
) -> DataFrame:
    """Session windows (30-minute gap) per user — the stateful merge
    operator (the shared ``batch_equiv.session_counts`` grain of
    ev_session_30m). Watermark bounds session state; windows close once
    the watermark passes the gap. The watermark needs TIMESTAMP, so the
    session bounds are cast back to the batch twin's NTZ."""
    grain = _ntz(
        session_counts(_watermarked_events(spark, sf_dir)),
        "session_start",
        "session_end",
    )
    return _sink(spark, "complete", {query_name: grain})[0]


def run_pii_audit_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "pii_audit"
) -> DataFrame:
    """Streaming twin of ``operators.curation.text_pii_pattern_audit``:
    the pre-release PII screen run ON INGEST, so exposure is known
    before a document ever lands in the training pool. Map-side
    per-doc regex counts via the SHARED ``pii_per_doc`` projection,
    one complete-mode rollup through the shared ``assemble_pii_audit``
    contract — the batch DuckDB oracle transitively gates this stream;
    stream == batch is pinned by
    tests/test_streaming.py::test_pii_audit_stream_equals_batch."""
    from ..operators.curation import assemble_pii_audit, pii_per_doc

    audit = assemble_pii_audit(pii_per_doc(stream_documents(spark, sf_dir)))
    return _sink(spark, "complete", {query_name: audit})[0]


def run_session_bounce_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "session_bounce"
) -> DataFrame:
    """Streaming twin of ``operators.curation.ev_session_bounce_profile``
    (VERDICT r12 "Next round" #4): sessionization is the first streaming
    surface real pipelines run. The two-grain assembly proven by
    run_chunk_cdc_stream: the STREAM holds only the session grain —
    ``session_window`` per user, one stateful merge whose state is
    bounded by the watermark — and the daily bounce rollup happens on
    the (bounded: sessions-per-day) session rows through the SHARED
    ``assemble_session_bounce_profile`` contract, so the DuckDB oracle
    gating the batch form transitively gates this stream. The session
    grain itself is the stream's own code: the batch islands use a lag
    window, which a stream cannot run.

    Boundary semantics: ``session_window`` starts a new session when a
    gap is >= 30 min, the batch islands when a gap is STRICTLY > 30 min
    — the two differ only for an exactly-1800.000000s gap, which the
    microsecond fixtures never produce;
    tests/test_streaming.py::test_session_bounce_stream_equals_batch
    asserts that precondition explicitly before pinning stream==batch."""
    from ..operators.curation import assemble_session_bounce_profile

    sessions = (
        _watermarked_events(spark, sf_dir)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.expr(
                "unix_micros(w.start) div 86400000000"
            ).alias("day_epoch"),
            "n_events",
        )
    )
    return assemble_session_bounce_profile(
        _sink(spark, "complete", {query_name: sessions})[0]
    )


def run_click_error_join(
    spark: SparkSession, sf_dir: str, query_name: str = "cej_stream"
) -> DataFrame:
    """Stream-stream inner join with watermarks: clicks joined to errors of
    the same user within 30 minutes (the interval condition bounds join
    state on both sides — Structured Streaming requires exactly this shape
    to GC buffered rows). The sides and the join are the shared
    ``batch_equiv.click_error_sides`` / ``click_error_pairs``; this job
    emits the raw pairs, which the batch twin
    (batch_equiv.ev_click_error_join) aggregates."""
    ev = stream_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks, errors = click_error_sides(ev)
    # Stream only: each side needs its own watermark before the join.
    pairs = click_error_pairs(
        clicks.withWatermark("click_ts", "1 hour"),
        errors.withWatermark("error_ts", "1 hour"),
    ).select("c_user", "click_id", "error_id")
    return _sink(spark, "append", {query_name: pairs})[0]


# --------------------------------------------------------------------------
# Custom stateful operator: per-user running totals via applyInPandasWithState
# --------------------------------------------------------------------------

_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _update_totals(
    key, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def run_user_totals_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "user_totals"
) -> DataFrame:
    """Arbitrary stateful aggregation (applyInPandasWithState): per-user
    event count + value total, state keyed by user_id. Update mode emits
    the latest state per key each micro-batch; the final row per key is the
    complete total (asserted against batch groupBy in tests)."""
    totals = (
        stream_events(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _sink(spark, "update", {query_name: totals})[0]


def run_error_rate_by_load_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "error_load"
) -> DataFrame:
    """Streaming twin of ``operators.curation.ev_error_rate_by_load``
    (VERDICT r13 "Next round" #7): the load-vs-reliability readout a
    live ops dashboard keeps. Hour-grain COMPLETE-mode aggregation (the
    SHARED ``error_rate_by_load_grain``) — the streaming state is
    exactly the calendar-bounded (hr, n_events, n_errors) table (~720
    rows/month, the same bound that justifies the batch op's global
    rank window), and the decile rollup runs on those bounded rows
    through the SHARED ``assemble_error_rate_by_load`` contract, so the
    DuckDB oracle gating the batch form transitively gates this
    stream."""
    from ..operators.curation import (
        assemble_error_rate_by_load,
        error_rate_by_load_grain,
    )

    grain = error_rate_by_load_grain(stream_events(spark, sf_dir))
    return assemble_error_rate_by_load(
        _sink(spark, "complete", {query_name: grain})[0]
    )


def run_slo_burn_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "slo_burn"
) -> DataFrame:
    """Streaming twin of ``operators.curation.ev_slo_burn_rate`` — the
    burn-rate table IS an alerting surface, so the streaming form is
    the one an SRE deployment actually runs. Day-grain COMPLETE-mode
    aggregation (the SHARED ``slo_burn_grain``; state = the
    calendar-bounded daily error ledger); the trailing-window burn math
    runs on those bounded rows through the SHARED ``assemble_slo_burn``
    contract, so the batch DuckDB oracle transitively gates this
    stream."""
    from ..operators.curation import assemble_slo_burn, slo_burn_grain

    grain = slo_burn_grain(stream_events(spark, sf_dir))
    return assemble_slo_burn(_sink(spark, "complete", {query_name: grain})[0])


def run_type_mix_drift_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "mix_drift"
) -> DataFrame:
    """Streaming twin of ``operators.curation.ev_type_mix_drift_weekly``
    — traffic-shape drift is a monitoring readout, so the streaming
    form is the production surface. Week×type COMPLETE-mode counts (the
    SHARED ``type_mix_drift_grain``; state bounded by
    calendar×alphabet); the consecutive-week TV and top-mover math runs
    through the SHARED ``assemble_type_mix_drift`` contract, so the
    batch oracle transitively gates this stream."""
    from ..operators.curation import (
        assemble_type_mix_drift,
        type_mix_drift_grain,
    )

    grain = type_mix_drift_grain(stream_events(spark, sf_dir))
    return assemble_type_mix_drift(
        _sink(spark, "complete", {query_name: grain})[0]
    )


# ---------------------------------------------------------------------------
# Streaming corpus cleaning (LLM-pipeline twin of pipeline_clean_corpus)
# ---------------------------------------------------------------------------

def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture — the landing-directory
    shape a continuous corpus-ingest pipeline reads from."""
    return _file_stream(spark, sf_dir, "documents")


def run_clean_corpus_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "clean_corpus_stream"
) -> DataFrame:
    """Streaming twin of ``operators.text.pipeline_clean_corpus``:
    quality gate (map-only) → exact dedup via ``dropDuplicates`` on the
    content hash (keyed state store — at scale state shards by hash) →
    per-language stats in complete mode.

    Semantics note: streaming dedup keeps the FIRST-ARRIVED copy, batch
    keeps the smallest doc_id. Content-hash duplicates have identical
    TEXT, so token statistics are copy-invariant; the per-LANGUAGE
    grouping additionally assumes duplicates of one text share a lang
    (true of any real dedup corpus and asserted as a fixture
    precondition in pytest) — the copy-sensitive ``first_doc`` column is
    excluded via ``include_first_doc=False``. Gate and stats expressions
    are SHARED with the batch pipeline (operators.text), so the DuckDB
    oracle gating the batch form transitively gates these semantics."""
    from ..operators.text import corpus_lang_stats, corpus_quality_gate

    gated = corpus_quality_gate(stream_documents(spark, sf_dir))
    deduped = gated.withColumn("content_hash", F.md5("text")).dropDuplicates(
        ["content_hash"]
    )
    stats = corpus_lang_stats(deduped, include_first_doc=False)
    return _sink(spark, "complete", {query_name: stats})[0]


def run_asset_ingest_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "asset_ingest_stream"
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.mm_asset_ingest_stats``:
    the landing-directory asset ingest monitor. The document stream goes
    through the SHARED ``project_assets`` projection and
    ``asset_fingerprint`` key; uniques are counted by stateful
    ``dropDuplicates`` on (media_type, fingerprint) (keyed state store —
    shards by the same key the batch pre-aggregation shuffles on), raw
    arrivals by a parallel counting query over the same source, and the
    dup ratio is assembled from the two materialized sinks with the
    batch column contract (the projection is this job's own copy: the
    batch form's ``countDistinct`` has no streaming form). Two streaming
    queries because one query cannot host both the pre- and post-dedup
    aggregations; a production deployment runs exactly this pair off one
    source."""
    from ..operators.multimodal import asset_fingerprint, project_assets

    assets = project_assets(stream_documents(spark, sf_dir)).select(
        "media_type", asset_fingerprint().alias("fp")
    )
    uq, seen = _sink(spark, "complete", {
        f"{query_name}_uq": assets.dropDuplicates(["media_type", "fp"])
        .groupBy("media_type")
        .agg(F.count("*").alias("n_unique_fp")),
        f"{query_name}_seen": assets.groupBy("media_type").agg(
            F.count("*").alias("n_assets")
        ),
    })
    return (
        seen.join(uq, "media_type")
        .select(
            "media_type",
            F.col("n_assets").cast("long").alias("n_assets"),
            F.col("n_unique_fp").cast("long").alias("n_unique_fp"),
            F.expr(
                rat_round6_spark("n_assets - n_unique_fp", "n_assets")
            ).alias("dup_ratio"),
        )
        .orderBy("media_type")
    )


def run_span_decon_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "span_decon_stream"
) -> DataFrame:
    """Streaming twin of ``operators.text.doc_span_decontamination``:
    training documents arrive as a file stream; the eval fingerprint
    index is computed BATCH-side from the held-out slice and joined as
    the static side of a stream-static left join (stateless — no
    watermark needed); the per-doc rollup aggregates in complete mode.
    The fingerprint projection (``span_window_fps``) and the rollup
    (``span_hit_rollup``) are SHARED with the batch op, so the DuckDB
    oracle gating the batch form transitively gates this stream;
    stream == batch is pinned by
    tests/test_streaming.py::test_span_decon_stream_equals_batch.

    At scale the eval index is small (an eval suite, not the corpus) →
    Spark broadcasts it to every task; per-doc state in the rollup is
    bounded by docs-in-flight, and a production deployment would emit
    per-doc rows append-mode keyed by ingest batch instead of complete
    mode (complete here because the twin harness replays a finite
    fixture)."""
    from ..operators.text import (
        SPAN_EVAL_MOD,
        span_hit_rollup,
        span_window_fps,
    )

    ensure_session_invariants(spark)
    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = (
        span_window_fps(
            batch_docs.filter(F.col("doc_id") % SPAN_EVAL_MOD == 0)
        )
        .filter(F.col("fp").isNotNull())
        .select("fp")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    stream = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % SPAN_EVAL_MOD != 0
    )
    joined = span_window_fps(stream).join(F.broadcast(idx), "fp", "left")
    rollup = span_hit_rollup(joined)
    return _sink(spark, "complete", {query_name: rollup})[0]


def run_byte_histogram_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "byte_hist_stream"
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.mm_payload_byte_histogram``:
    assets arrive as a file stream, every payload byte is banded by the
    SHARED ``payload_byte_bands`` projection, and the two SHARED
    ``byte_histogram_grains`` aggregations (per-(type, band) counts +
    per-type totals — one query cannot host both grains, the
    asset-ingest-stream precedent) run as complete-mode queries into
    memory sinks; the final share assembly reuses the batch column
    contract (``assemble_byte_histogram``), so the DuckDB oracle gating
    the batch form transitively gates this stream. The batch form's
    ``repartition`` ahead of the byte fan-out stays batch-only.
    stream == batch is pinned by
    tests/test_streaming.py::test_byte_histogram_stream_equals_batch."""
    from ..operators.multimodal import (
        assemble_byte_histogram,
        byte_histogram_grains,
        payload_byte_bands,
        project_assets,
    )

    per_band, tot = byte_histogram_grains(
        payload_byte_bands(project_assets(stream_documents(spark, sf_dir)))
    )
    return assemble_byte_histogram(*_sink(spark, "complete", {
        f"{query_name}_bands": per_band,
        f"{query_name}_tot": tot,
    }))


def run_byte_delta_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "byte_delta_stream"
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.mm_byte_delta_profile``:
    assets arrive as a file stream, adjacent-byte deltas are banded by
    the SHARED ``byte_delta_bands`` projection, and two complete-mode
    aggregations (the SHARED per-(type, band) ``byte_delta_cells`` +
    per-type totals) feed the shared ``assemble_byte_delta_profile``
    contract — the DuckDB oracle gating the batch form transitively
    gates this stream. The totals are the stream's own: the batch sums
    the checkpointed cells, a chained aggregation one streaming query
    cannot run, so the stream counts the bands in a second query.
    stream == batch is pinned by
    tests/test_streaming.py::test_byte_delta_stream_equals_batch."""
    from ..operators.multimodal import (
        assemble_byte_delta_profile,
        byte_delta_bands,
        byte_delta_cells,
        project_assets,
    )

    bands = byte_delta_bands(project_assets(stream_documents(spark, sf_dir)))
    totals = bands.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_total")
    )
    return assemble_byte_delta_profile(*_sink(spark, "complete", {
        f"{query_name}_cnt": byte_delta_cells(bands),
        f"{query_name}_tot": totals,
    }))


def run_chunk_cdc_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "chunk_cdc_stream"
) -> DataFrame:
    """Streaming twin of ``operators.curation.mm_chunk_cdc_profile``:
    assets arrive as a file stream, every payload is split by the
    SHARED ``cdc_chunks`` projection (identical boundaries and chunk
    hashes), and the two SHARED ``chunk_cdc_grains`` aggregations —
    (media_type, chunk_hash) occurrence rows and (media_type, doc_id)
    rows, the shapes that make distinct-counts streamable as row counts
    — run as complete-mode queries and feed the shared
    ``assemble_chunk_cdc_profile`` contract, so the DuckDB oracle gating
    the batch form transitively gates this stream.
    stream == batch is pinned by
    tests/test_streaming.py::test_chunk_cdc_stream_equals_batch."""
    from ..operators.curation import (
        assemble_chunk_cdc_profile,
        cdc_chunks,
        chunk_cdc_grains,
    )
    from ..operators.multimodal import project_assets

    by_hash, by_asset = chunk_cdc_grains(
        cdc_chunks(project_assets(stream_documents(spark, sf_dir)))
    )
    return assemble_chunk_cdc_profile(*_sink(spark, "complete", {
        f"{query_name}_hash": by_hash,
        f"{query_name}_asset": by_asset,
    }))


def run_corpus_funnel_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "corpus_funnel_stream"
) -> DataFrame:
    """Streaming twin of ``operators.text.corpus_funnel_stats``: the
    per-source ingest funnel (raw arrivals → quality-gate survivors →
    distinct content hashes) computed incrementally off the landing
    directory. The gate is the SHARED ``corpus_quality_gate`` predicate
    and the final projection repeats the batch column contract, so the
    DuckDB oracle gating the batch form transitively gates this stream;
    stream == batch is pinned by
    tests/test_streaming.py::test_corpus_funnel_stream_equals_batch.

    Three queries off one source because a single streaming query cannot
    host both pre- and post-gate aggregations (the asset-ingest-stream
    precedent): raw counts, gated counts, and gated-unique counts via
    stateful ``dropDuplicates`` on (source, content_hash) — the state
    store shards on exactly the key the batch countDistinct shuffles
    on (``countDistinct`` itself has no streaming form, so the
    aggregation is this job's own code)."""
    from ..operators.text import corpus_quality_gate

    docs = stream_documents(spark, sf_dir)
    gated = corpus_quality_gate(docs)
    raw, gated_n, uniq = _sink(spark, "complete", {
        f"{query_name}_raw": docs.groupBy("source").agg(
            F.count("*").alias("n_raw")
        ),
        f"{query_name}_gated": gated.groupBy("source").agg(
            F.count("*").alias("n_gated")
        ),
        f"{query_name}_uq": gated.withColumn("content_hash", F.md5("text"))
        .dropDuplicates(["source", "content_hash"])
        .groupBy("source")
        .agg(F.count("*").alias("n_unique")),
    })
    return (
        raw.join(gated_n, "source", "left")
        .join(uniq, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("long").alias("n_raw"),
            F.coalesce("n_gated", F.lit(0)).cast("long").alias("n_gated"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.when(
                F.coalesce("n_gated", F.lit(0)) > 0,
                F.expr(rat_round6_spark("n_gated - n_unique", "n_gated")),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
        .orderBy("source")
    )


def run_windowed_topk_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "windowed_topk_stream"
) -> DataFrame:
    """Streaming leaderboard: the windowed count (the shared
    ``batch_equiv.topk_counts`` grain) runs as a STREAMING aggregation
    (complete mode → the materialized per-window counts), and the rank
    tail — which streaming aggregation cannot host, since row_number
    needs the finished window — runs over the materialized sink with the
    SAME shared tail as the batch twin (batch_equiv.topk_rank_tail).
    This is the production two-stage shape: stream pre-aggregates, the
    serving layer ranks."""
    grain = topk_counts(stream_events(spark, sf_dir))
    return topk_rank_tail(_sink(spark, "complete", {query_name: grain})[0])


# ---------------------------------------------------------------------------
# Streaming alert debounce (stateful twin of udf_surface.ev_alert_debounce)
# ---------------------------------------------------------------------------

_DEBOUNCE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("alert_um", T.LongType()),
        T.StructField("n_suppressed_before", T.LongType()),
    ]
)
# last emitted alert micros (-1 = none yet), candidates suppressed since,
# and the max candidate time seen so far: under the in-order ingestion
# assumption, a duplicate (user, um) arriving in a LATER micro-batch has
# um <= last_seen and must be ignored entirely (np.unique only dedups
# within one batch; without last_seen the copy would inflate the
# suppressed count and diverge from the batch operator's .distinct())
_DEBOUNCE_STATE = "last_um BIGINT, suppressed BIGINT, last_seen BIGINT"


def _update_debounce(key, pdfs, state: GroupState):
    import numpy as np

    from ..operators.udf_surface import ALERT_COOLDOWN_US

    last, suppressed, last_seen = (
        state.get if state.exists else (-1, 0, -1)
    )
    chunks = [pdf["um"].to_numpy(np.int64) for pdf in pdfs]
    ums = (
        np.unique(np.concatenate(chunks))
        if chunks
        else np.array([], np.int64)
    )
    rows = []
    for um in ums:
        if um <= last_seen:  # cross-batch duplicate (or out-of-order)
            continue
        last_seen = int(um)
        if last < 0 or um - last >= ALERT_COOLDOWN_US:
            rows.append(
                {
                    "user_id": int(key[0]),
                    "alert_um": int(um),
                    "n_suppressed_before": int(suppressed),
                }
            )
            last = int(um)
            suppressed = 0
        else:
            suppressed += 1
    state.update((int(last), int(suppressed), int(last_seen)))
    yield pd.DataFrame(
        rows, columns=["user_id", "alert_um", "n_suppressed_before"]
    )


def run_alert_debounce_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "alert_debounce"
) -> DataFrame:
    """Streaming cooldown debounce via ``applyInPandasWithState``: state
    is (last emitted alert time, suppressed-since) per user — the live
    form of the self-referential emitted chain that has no window
    rewrite. Append mode: each micro-batch emits only the alerts that
    cleared the cooldown against state carried from previous batches.

    Ordering CONTRACT (standard for log ingestion): candidate events
    arrive in non-decreasing event-time order ACROSS micro-batches —
    within a batch the update function sorts. A candidate that violates
    the contract (its time ≤ the newest time already folded) is DROPPED:
    not emitted and not counted as suppressed — the same rule that
    makes cross-batch replays idempotent (a true out-of-order stream
    would need a watermark-delayed emit instead). The availableNow
    pytest run asserts the stream's emitted set equals the batch
    ``ev_alert_debounce`` rows, and
    ``test_debounce_stream_out_of_order_batches_per_contract`` pins the
    drop semantics through real disordered micro-batches."""
    from ..operators.udf_surface import ALERT_THRESHOLD

    ev = stream_events(spark, sf_dir)
    cand = (
        ev.filter(F.col("value") > ALERT_THRESHOLD)
        .select(
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp))").alias("um"),
        )
    )
    alerts = cand.groupBy("user_id").applyInPandasWithState(
        _update_debounce,
        outputStructType=_DEBOUNCE_SCHEMA,
        stateStructType=_DEBOUNCE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _sink(spark, "append", {query_name: alerts})[0]


# ---------------------------------------------------------------------------
# Streaming max-gap tracker (live form of the dead-sensor screen)
# ---------------------------------------------------------------------------

_GAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("max_gap_us", T.LongType()),
    ]
)
_GAP_STATE = "last_um BIGINT, max_gap BIGINT, n BIGINT"


def _update_gap(key, pdfs, state: GroupState):
    import numpy as np

    last, max_gap, n = state.get if state.exists else (-1, 0, 0)
    chunks = [pdf["um"].to_numpy(np.int64) for pdf in pdfs]
    ums = (
        np.sort(np.concatenate(chunks)) if chunks else np.array([], np.int64)
    )
    for um in ums:
        if last >= 0 and um - last > max_gap:
            max_gap = int(um - last)
        if um > last:
            last = int(um)
        n += 1
    state.update((int(last), int(max_gap), int(n)))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_events": [int(n)],
            "max_gap_us": [int(max_gap)],
        }
    )


def run_user_gap_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "user_gaps"
) -> DataFrame:
    """Live per-user max inter-event gap via ``applyInPandasWithState`` —
    the streaming form of ``ev_gap_detection``'s inter-event component
    (the tail-to-corpus-end gap only exists in batch, where the corpus
    end is known). Integer-exact state: (last event micros, max gap,
    count); update mode emits the running answer per key each batch.
    Same in-order ingestion CONTRACT as the debounce twin; an event
    arriving out of order across batches (um ≤ last) is counted in
    n_events but contributes no gap and never moves `last` backwards —
    in particular it cannot retroactively SPLIT a gap already recorded
    (a watermark-delayed fold would be needed for that), pinned by
    ``test_gap_stream_out_of_order_batches_per_contract``."""
    ev = stream_events(spark, sf_dir)
    pts = ev.select(
        "user_id", F.expr("unix_micros(cast(ts as timestamp))").alias("um")
    )
    gaps = pts.groupBy("user_id").applyInPandasWithState(
        _update_gap,
        outputStructType=_GAP_SCHEMA,
        stateStructType=_GAP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _sink(spark, "update", {query_name: gaps})[0]


def run_stream_static_enrich(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_static_enrich"
) -> DataFrame:
    """STREAM-STATIC JOIN: the live event stream enriched against the
    static customer dimension (batch DataFrame — Spark broadcasts it to
    every micro-batch; the stream side never shuffles for the join),
    rolled up to (segment, event type) counts + exact-decimal revenue.
    The transformation is the SHARED ``batch_equiv.segment_rollup``, so
    the DuckDB oracle gating ``ev_stream_static_enrich`` transitively
    gates this job; stream == batch is pinned by
    tests/test_streaming.py::test_stream_static_enrich_equals_batch.

    Complete-mode memory sink under availableNow: the dimension is
    re-read per micro-batch (exactly how a slowly-changing dimension
    behaves in production — a dim update between triggers is picked
    up), and every (segment, type) cell is emitted."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    cust = catalog.load(spark, sf_dir, "customer")
    rollup = segment_rollup(ev, cust)
    return _sink(spark, "complete", {query_name: rollup})[0]


def run_friedman_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "friedman_stream"
) -> DataFrame:
    """Streaming twin of ``operators.analytics.stats_friedman_daily_types``
    — the "did the type ordering change today?" monitor a live feed
    keeps. COMPLETE-mode (day × type) exact-decimal value sums (the
    SHARED ``friedman_grain``; state bounded by calendar×alphabet); the
    dense-grid ranking and the Friedman χ² readout run through the
    SHARED ``assemble_friedman`` contract, so the batch DuckDB oracle
    transitively gates this stream; stream == batch is pinned by
    tests/test_streaming.py::test_friedman_stream_equals_batch."""
    from ..operators.analytics import assemble_friedman, friedman_grain

    grain = friedman_grain(stream_events(spark, sf_dir))
    return assemble_friedman(_sink(spark, "complete", {query_name: grain})[0])


def run_hurst_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "hurst_stream"
) -> DataFrame:
    """Streaming twin of ``operators.analytics.ev_hurst_variance_plot``
    — the long-memory/burstiness posture a capacity planner tracks on
    the LIVE feed. COMPLETE-mode daily counts (the SHARED
    ``hurst_grain``; state strictly calendar-bounded: one long per
    day); the dyadic variance-time plot and the OLS Hurst readout run
    through the SHARED ``assemble_hurst`` contract, so the batch DuckDB
    oracle transitively gates this stream; stream == batch is pinned by
    tests/test_streaming.py::test_hurst_stream_equals_batch."""
    from ..operators.analytics import assemble_hurst, hurst_grain

    grain = hurst_grain(stream_events(spark, sf_dir))
    return assemble_hurst(_sink(spark, "complete", {query_name: grain})[0])


def run_max_drawdown_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "max_dd"
) -> DataFrame:
    """Streaming twin of ``operators.analytics.ev_max_drawdown_daily``
    — drawdown-from-peak is a live monitoring readout (an alerting
    surface like the SLO burn table), so the streaming form is the one
    a revenue/load dashboard actually runs. Day-grain COMPLETE-mode
    aggregation of exact micro-unit daily totals (the SHARED
    ``max_drawdown_grain``; state = the calendar-bounded (type, day,
    dv) ledger); the running-peak window and trough extraction run on
    those bounded rows through the SHARED ``assemble_max_drawdown``
    contract, so the batch DuckDB oracle transitively gates this
    stream; stream == batch is pinned by
    tests/test_streaming.py::test_max_drawdown_stream_equals_batch."""
    from ..operators.analytics import (
        assemble_max_drawdown,
        max_drawdown_grain,
    )

    grain = max_drawdown_grain(stream_events(spark, sf_dir))
    return assemble_max_drawdown(
        _sink(spark, "complete", {query_name: grain})[0]
    )


def run_kuiper_hour_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "kuiper_hr"
) -> DataFrame:
    """Streaming twin of ``operators.analytics.stats_kuiper_hour_
    uniformity`` — clock-profile drift is a live monitoring concern
    (a service whose hour-of-day mix suddenly concentrates is
    misbehaving), so the circular-uniformity TEST is a natural
    always-on readout. COMPLETE-mode state is exactly the (type × 24)
    clock-cell counts (the SHARED ``kuiper_grain``); the grid fill,
    D⁺/D⁻ sup lanes and critical band run through the SHARED
    ``assemble_kuiper`` contract, so the batch DuckDB oracle
    transitively gates this stream; stream == batch is pinned by
    tests/test_streaming.py."""
    from ..operators.analytics import assemble_kuiper, kuiper_grain

    grain = kuiper_grain(stream_events(spark, sf_dir))
    return assemble_kuiper(_sink(spark, "complete", {query_name: grain})[0])


def run_capacity_shed_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "cap_shed"
) -> DataFrame:
    """Streaming twin of ``operators.analytics.ev_capacity_shed_
    whatif`` — the what-if is a capacity-planning dial an operator
    wants LIVE ("if we clamped at p90 right now, who loses traffic").
    COMPLETE-mode state is the calendar×alphabet-bounded (hr, type)
    count ledger (the SHARED ``capacity_shed_grain``); the exact p90
    cap and the proportional allocation run through the SHARED
    ``assemble_capacity_shed`` contract, so the batch DuckDB oracle
    transitively gates this stream; stream == batch is pinned by
    tests/test_streaming.py."""
    from ..operators.analytics import (
        assemble_capacity_shed,
        capacity_shed_grain,
    )

    grain = capacity_shed_grain(stream_events(spark, sf_dir))
    return assemble_capacity_shed(
        _sink(spark, "complete", {query_name: grain})[0]
    )
