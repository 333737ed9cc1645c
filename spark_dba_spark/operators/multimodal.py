"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the *decode* step is a
clearly-marked deterministic stub (`_fake_decode`) behind an import-try —
but everything Spark-side is real and tested: binary columns flow through
Arrow into ``mapInPandas`` batches, feature schemas are typed, frame
sampling explodes per-asset rows, and the whole pipeline is map-only
(no shuffle; at 100 TB the only knob is input split size).

The fixture has no binary table, so payloads are synthesized as
``encode(text, 'utf-8')`` from ``documents`` — which also lets the DuckDB
oracle verify the metadata arithmetic end-to-end.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import catalog
from ..functions.numeric import rat_round6_duck, rat_round6_spark
from ..registry import QuerySpec
from .dedup import bucket_pairs

try:  # pragma: no cover - the real decoder is not installed in this env
    import PIL.Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def project_assets(docs: DataFrame) -> DataFrame:
    """documents-shaped frame → opaque binary payload + media-type
    metadata. Shared by the batch loaders AND the streaming ingest twin
    (streaming/jobs.run_asset_ingest_stream), so both surfaces apply
    the identical asset projection."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
    )


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return project_assets(catalog.load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Binary metadata (JVM-only: no Python needed for byte-level metadata)
# --------------------------------------------------------------------------

def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assets(spark, sf_dir).select(
        "doc_id",
        "media_type",
        F.octet_length("payload").alias("byte_len"),
        F.sha2("payload", 256).alias("sha256_hex"),
        F.expr("ascii(substring(cast(payload as string), 1, 1))").alias("head_byte"),
    ).orderBy("doc_id")


ORACLE_MM_META = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS byte_len,
       sha256(text) AS sha256_hex,
       ascii(substr(text, 1, 1)) AS head_byte
FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Feature extraction via mapInPandas (Arrow-batched binary decode)
# --------------------------------------------------------------------------

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder — deterministic fake dimensions derived from the bytes.

    Used when PIL is absent or the payload is not a decodable image (the
    fixture payloads are synthesized text bytes), so the DuckDB oracles
    stay valid in every environment. The Spark plumbing (binary Arrow
    transfer, batch shape, typed output schema) is identical either way.
    """
    n = len(payload)
    return 64 + n % 576, 64 + (n * 7) % 416, 1 + n % 3


_CHANNELS = {"1": 1, "L": 1, "P": 1, "I": 1, "F": 1, "LA": 2,
             "RGB": 3, "YCbCr": 3, "RGBA": 4, "CMYK": 4}


def decode_image_features(
    payload: bytes, use_pil: bool | None = None
) -> tuple[int, int, int]:
    """(width, height, channels) of an image payload.

    Real decode via PIL when importable (``use_pil=None`` → auto), falling
    back to the deterministic stub for undecodable bytes — real pipelines
    get real decoding, fixture payloads (text bytes) keep the stub path
    the oracles encode. Header-only: PIL.open reads metadata lazily, the
    pixel data is never decompressed here."""
    if use_pil is None:
        use_pil = _HAVE_PIL
    elif use_pil and not _HAVE_PIL:
        raise ImportError(
            "decode_image_features(use_pil=True) requires Pillow, which is "
            "not installed; use use_pil=None for auto-fallback to the "
            "deterministic stub"
        )
    if use_pil:
        import io

        try:
            with PIL.Image.open(io.BytesIO(payload)) as img:
                return img.width, img.height, _CHANNELS.get(img.mode, 3)
        except PIL.UnidentifiedImageError:
            # Not an image format at all (the fixture payloads) → the
            # documented deterministic stub.
            pass
        # Anything else (truncated file after a valid header, decompression
        # bomb, OSError) IS an image that failed to decode — propagate.
        # Substituting fabricated dimensions would let corrupt assets flow
        # downstream looking real.
    return _fake_decode(payload)


def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "image")

    def decode(batches):
        for pdf in batches:
            feats = [decode_image_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "channels": [f[2] for f in feats],
                }
            )

    return (
        assets.select("doc_id", "payload")
        .mapInPandas(decode, _FEATURE_SCHEMA)
        .orderBy("doc_id")
    )


ORACLE_MM_FEATURES = """
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       64 + octet_length(encode(text)) % 576 AS width,
       64 + (octet_length(encode(text)) * 7) % 416 AS height,
       1 + octet_length(encode(text)) % 3 AS channels
FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Frame sampling (explode per-asset frame indices; stub timing arithmetic)
# --------------------------------------------------------------------------

def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    videos = _assets(spark, sf_dir).filter(F.col("media_type") == "video")
    return (
        videos.withColumn("n_frames", 1 + F.octet_length("payload") % 10)
        .select(
            "doc_id",
            "n_frames",
            F.explode(
                F.expr("sequence(0, n_frames - 1, 2)")
            ).alias("frame_idx"),
        )
        .withColumn("frame_ts", F.col("frame_idx") * 0.04)
        .orderBy("doc_id", "frame_idx")
    )


ORACLE_MM_FRAMES = """
SELECT doc_id, n_frames, frame_idx,
       frame_idx * CAST(0.04 AS DOUBLE) AS frame_ts
FROM (SELECT doc_id, 1 + octet_length(encode(text)) % 10 AS n_frames
      FROM documents WHERE doc_id % 3 = 2),
     LATERAL unnest(range(0, n_frames, 2)) AS t(frame_idx)
ORDER BY doc_id, frame_idx
"""


# --------------------------------------------------------------------------
# Resize: fit-within-box scaling arithmetic over decoded dimensions
# --------------------------------------------------------------------------

RESIZE_BOX = 224


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: decode (stub) → compute fit-within-224-box target
    dimensions preserving aspect ratio. The arithmetic after decode is pure
    JVM expressions; a real pipeline would add one more mapInPandas stage
    performing the pixel resample with the SAME (doc_id, w, h → w2, h2)
    contract tested here."""
    feats = mm_image_features(spark, sf_dir)
    # All-integer scaling: k = min(half-up(224·10⁴/w), half-up(224·10⁴/h),
    # 10⁴) in 10⁻⁴ units, then out dims are exact (dim·k) div 10⁴ — a
    # float round of the 224/dim ratio can land on terminating-decimal
    # ties for 2^a·5^b dims, and floor(dim·scale) on the float product
    # can slip an exact-integer boundary (TIES.md Class B′).
    k = (
        f"least((2 * {RESIZE_BOX * 10000} + width) div (2 * width), "
        f"(2 * {RESIZE_BOX * 10000} + height) div (2 * height), "
        "10000L)"
    )
    return (
        feats.withColumn("k4", F.expr(k))
        .select(
            "doc_id",
            "width",
            "height",
            (F.col("k4").cast("double") / F.lit(10000.0)).alias("scale_r4"),
            F.expr("cast((width * k4) div 10000 as int)").alias("out_w"),
            F.expr("cast((height * k4) div 10000 as int)").alias("out_h"),
        )
        .orderBy("doc_id")
    )


ORACLE_MM_RESIZE = f"""
WITH f AS (
  SELECT doc_id,
         64 + octet_length(encode(text)) % 576 AS width,
         64 + (octet_length(encode(text)) * 7) % 416 AS height
  FROM documents WHERE doc_id % 3 = 0
),
kk AS (
  SELECT doc_id, width, height,
         least((2 * {RESIZE_BOX * 10000} + width) // (2 * width),
               (2 * {RESIZE_BOX * 10000} + height) // (2 * height),
               10000) AS k4
  FROM f)
SELECT doc_id, width, height,
       CAST(k4 AS DOUBLE) / 10000.0 AS scale_r4,
       CAST((width * k4) // 10000 AS INTEGER) AS out_w,
       CAST((height * k4) // 10000 AS INTEGER) AS out_h
FROM kk ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Audio: fake-PCM decode → windowed RMS energy (numpy over Arrow batches)
# --------------------------------------------------------------------------

AUDIO_WIN = 256  # "samples" per analysis window


def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS energy per audio asset. The decode stub treats payload
    bytes as centered 8-bit PCM (byte − 128) — deterministic, so the DuckDB
    oracle reproduces the whole windowing+RMS pipeline; a real deployment
    swaps in an ffmpeg/soundfile decode with identical Spark plumbing
    (binary → Arrow → numpy per batch, map-only)."""
    import numpy as np

    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "audio")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win", T.LongType()),
            T.StructField("rms_r4", T.DoubleType()),
        ]
    )

    def energy(batches):
        for pdf in batches:
            ids, wins, rms = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # A real deployment would decode via soundfile/ffmpeg here
                # (own import-try, same try-real-else-stub convention as
                # decode_image_features); this container has no audio libs,
                # so the byte-as-PCM stub below is always the path taken.
                samples = (
                    np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
                    - 128.0
                )
                for w in range(0, len(samples), AUDIO_WIN):
                    chunk = samples[w:w + AUDIO_WIN]
                    val = float(np.sqrt(np.mean(chunk**2)))
                    # half-up to match DuckDB ROUND (python round() is
                    # half-to-even → boundary values would hash-mismatch)
                    rms_val = int(val * 10000 + 0.5) / 10000.0
                    ids.append(doc_id)
                    wins.append(w // AUDIO_WIN)
                    rms.append(rms_val)
            yield pd.DataFrame({"doc_id": ids, "win": wins, "rms_r4": rms})

    return (
        assets.select("doc_id", "payload")
        .mapInPandas(energy, out_schema)
        .orderBy("doc_id", "win")
    )


ORACLE_MM_AUDIO = f"""
SELECT doc_id, (i - 1) // {AUDIO_WIN} AS win,
       ROUND(sqrt(avg(pow(ascii(substr(text, i, 1)) - 128, 2))), 4) AS rms_r4
FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
     LATERAL unnest(generate_series(1, len(text))) AS t(i)
GROUP BY doc_id, win ORDER BY doc_id, win
"""


# --------------------------------------------------------------------------
# Voice-activity-detection segments over the audio energy windows
# --------------------------------------------------------------------------

VAD_WIN = 64  # samples per VAD analysis window (finer than AUDIO_WIN)
VAD_THRESH = 2000  # mean-square activity threshold (integer compare)


def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation per audio asset — the step after
    windowed energy (``mm_audio_energy``) in any speech-data pipeline:
    consecutive ACTIVE windows coalesce into segments
    (gaps-and-islands), and the per-asset readout (window/active/
    segment counts + longest segment) drives clip selection and
    silence trimming. Activity is the EXACT integer compare
    sum((b−128)²) > {VAD_THRESH}·n over each {VAD_WIN}-sample window —
    no RMS float, no sqrt, so the whole pipeline (including the decode
    stub's byte-as-PCM samples) is integer end-to-end and the oracle
    reproduces it bit-for-bit.

    Scale: the decode is the standard multimodal Arrow ``mapInPandas``
    stub (swap in soundfile/ffmpeg with identical plumbing); islands
    come from the win − rank trick under a per-asset window
    (asset-length-bounded); the rollup is one doc-keyed groupBy."""
    import numpy as np

    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "audio")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win", T.LongType()),
            T.StructField("active", T.BooleanType()),
        ]
    )

    def vad(batches):
        for pdf in batches:
            ids, wins, act = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = (
                    np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                        np.int64
                    )
                    - 128
                )
                for w in range(0, len(samples), VAD_WIN):
                    chunk = samples[w:w + VAD_WIN]
                    ss = int((chunk * chunk).sum())
                    ids.append(doc_id)
                    wins.append(w // VAD_WIN)
                    act.append(ss > VAD_THRESH * len(chunk))
            yield pd.DataFrame({"doc_id": ids, "win": wins, "active": act})

    wdoc = W.partitionBy("doc_id").orderBy("win")
    # the decoded window frame feeds both the island chain and the
    # totals — checkpoint it so the payload decode runs ONCE (the
    # decode is the expensive stage at scale; its output is 3 narrow
    # columns per window)
    windows = (
        assets.select("doc_id", "payload")
        .mapInPandas(vad, out_schema)
        .localCheckpoint(eager=True)
    )
    segs = (
        windows.filter("active")
        .withColumn("rn", F.row_number().over(wdoc))
        .withColumn("grp", F.col("win") - F.col("rn"))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("seg_len"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.max("seg_len").cast("long").alias("longest_segment"),
        )
    )
    totals = windows.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("active"), 1).otherwise(0))
        .cast("long")
        .alias("n_active"),
    )
    return (
        totals.join(segs, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            "n_active",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias(
                "n_segments"
            ),
            F.coalesce("longest_segment", F.lit(0)).cast("long").alias(
                "longest_segment"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_MM_VAD = f"""
WITH w AS (
  SELECT doc_id, (i - 1) // {VAD_WIN} AS win,
         SUM(CAST(pow(ascii(substr(text, i, 1)) - 128, 2) AS BIGINT)) AS ss,
         COUNT(*) AS n
  -- ascii()-over-chars equals byte-as-PCM only for pure-ASCII payloads
  -- (ADVICE r9): fail LOUDLY per row instead of silently diverging from
  -- the Spark side's uint8 bytes on a non-ASCII corpus
  FROM (SELECT doc_id,
               CASE WHEN octet_length(encode(text)) != len(text)
                    THEN error('mm_audio_vad oracle requires ASCII '
                               || 'payloads (doc ' || doc_id || ')')
                    ELSE text END AS text
        FROM documents WHERE doc_id % 3 = 1),
       LATERAL unnest(generate_series(1, len(text))) AS t(i)
  GROUP BY 1, 2),
act AS (
  SELECT doc_id, win, ss > {VAD_THRESH} * n AS active FROM w),
segs AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(MAX(seg_len) AS BIGINT) AS longest_segment
  FROM (
    SELECT doc_id, grp, COUNT(*) AS seg_len
    FROM (SELECT doc_id, win,
                 win - ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY win) AS grp
          FROM act WHERE active)
    GROUP BY 1, 2)
  GROUP BY 1),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
           AS n_active
  FROM act GROUP BY 1)
SELECT tot.doc_id, n_windows, n_active,
       COALESCE(n_segments, 0) AS n_segments,
       COALESCE(longest_segment, 0) AS longest_segment
FROM tot LEFT JOIN segs ON tot.doc_id = segs.doc_id
ORDER BY tot.doc_id
"""


# --------------------------------------------------------------------------
# Scene-cut detection over consecutive frame features
# --------------------------------------------------------------------------

SCENE_CHARS = 48  # payload chars per frame block for the feature stub
SCENE_CUT_THRESH = 150  # |feature delta| above this = a cut


def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection per video — the temporal-segmentation twin of
    the audio VAD: consecutive frames whose feature distance jumps past
    {SCENE_CUT_THRESH} mark a cut, and the cuts split the video into
    scenes (the unit a training pipeline samples clips from). The
    feature stub is the EXACT integer byte-code sum over each frame's
    {SCENE_CHARS}-char payload block (a real pipeline swaps in a
    per-frame histogram/embedding distance with the identical
    (doc_id, frame_idx → feature) contract); deltas, the cut compare,
    and the scene rollup are all integers on both engines.

    Scale: frame features are one map-side explode per frame block
    (bounded by the frame-count contract); the delta window partitions
    BY video (frame-count-bounded); the rollup is one doc-keyed
    groupBy."""
    v = _assets(spark, sf_dir).filter(F.col("media_type") == "video")
    frames = (
        v.select(
            "doc_id",
            F.col("payload").cast("string").alias("ptxt"),
            (1 + F.octet_length("payload") % 10).alias("n_frames"),
        )
        .select(
            "doc_id",
            "ptxt",
            "n_frames",
            F.explode(
                F.expr("sequence(0, n_frames - 1)")
            ).alias("fidx"),
        )
        .filter(F.col("fidx") * SCENE_CHARS < F.length("ptxt"))
        .select(
            "doc_id",
            "n_frames",
            "fidx",
            F.expr(
                f"aggregate(transform("
                f"sequence(1, least({SCENE_CHARS},"
                f" length(ptxt) - fidx * {SCENE_CHARS})),"
                f" i -> ascii(substring(ptxt, fidx * {SCENE_CHARS} + i, 1))),"
                f" cast(0 as bigint), (acc, x) -> acc + x)"
            ).alias("feat"),
        )
    )
    wv = W.partitionBy("doc_id").orderBy("fidx")
    cuts = frames.withColumn("prev", F.lag("feat").over(wv)).withColumn(
        "is_cut",
        F.col("prev").isNotNull()
        & (F.abs(F.col("feat") - F.col("prev")) > SCENE_CUT_THRESH),
    )
    # scene id = running cut count (gaps-and-islands over the cut marks)
    wrun = (
        W.partitionBy("doc_id")
        .orderBy("fidx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scened = cuts.withColumn(
        "scene", F.sum(F.when(F.col("is_cut"), 1).otherwise(0)).over(wrun)
    )
    per_scene = scened.groupBy("doc_id", "scene").agg(
        F.count("*").alias("scene_len")
    )
    return (
        per_scene.groupBy("doc_id")
        .agg(
            F.sum("scene_len").cast("long").alias("n_sampled_frames"),
            F.count("*").cast("long").alias("n_scenes"),
            F.max("scene_len").cast("long").alias("longest_scene"),
        )
        .orderBy("doc_id")
    )


ORACLE_MM_SCENE_CUTS = f"""
WITH v AS (
  SELECT doc_id, text,
         1 + octet_length(encode(text)) % 10 AS n_frames
  FROM documents WHERE doc_id % 3 = 2),
f AS (
  SELECT doc_id, fidx,
         (SELECT CAST(SUM(ascii(substr(text, fidx * {SCENE_CHARS} + i, 1)))
                 AS BIGINT)
          FROM unnest(generate_series(1, least({SCENE_CHARS},
                 length(text) - fidx * {SCENE_CHARS}))) t(i)) AS feat
  FROM v, LATERAL unnest(generate_series(0, n_frames - 1)) u(fidx)
  WHERE fidx * {SCENE_CHARS} < length(text)),
c AS (
  SELECT doc_id, fidx, feat,
         (prev IS NOT NULL AND abs(feat - prev) > {SCENE_CUT_THRESH})
           AS is_cut
  FROM (SELECT doc_id, fidx, feat,
               LAG(feat) OVER (PARTITION BY doc_id ORDER BY fidx) AS prev
        FROM f)),
s AS (
  SELECT doc_id, fidx,
         SUM(CASE WHEN is_cut THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY fidx) AS scene
  FROM c),
ps AS (
  SELECT doc_id, scene, COUNT(*) AS scene_len
  FROM s GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(scene_len) AS BIGINT) AS n_sampled_frames,
       CAST(COUNT(*) AS BIGINT) AS n_scenes,
       CAST(MAX(scene_len) AS BIGINT) AS longest_scene
FROM ps GROUP BY doc_id ORDER BY doc_id
"""


# Truncated-fingerprint dedup: 24-char payload prefix ≈ a thumbnail /
# perceptual-hash bucket (full-byte equality finds nothing in a corpus of
# re-encoded assets; prefix fingerprints are how asset stores bucket
# near-identical binaries before a byte-level verify tier).
FP_PREFIX_CHARS = 24


def asset_fingerprint() -> F.Column:
    """The shared truncated-prefix fingerprint column (batch dedup,
    ingest stats, and the streaming ingest twin all key on this)."""
    return F.md5(
        F.expr(f"substring(cast(payload as string), 1, {FP_PREFIX_CHARS})")
    )


def mm_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset dedup clusters by truncated payload fingerprint: md5 of the
    payload's first {FP_PREFIX_CHARS} chars (utf-8 round-trip through the
    binary column, so both engines hash identical bytes). One hash
    shuffle on the fingerprint — the multimodal twin of
    dedup_exact_clusters; at 100 TB the map-side partial agg reduces
    each fingerprint to one row per task before the exchange."""
    a = _assets(spark, sf_dir)
    return (
        a.groupBy(asset_fingerprint().alias("fingerprint"))
        .agg(
            F.count("*").alias("n_assets"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
        )
        .filter(F.col("n_assets") > 1)
        .orderBy("fingerprint")
    )


ORACLE_MM_DEDUP_FP = f"""
SELECT md5(substr(text, 1, {FP_PREFIX_CHARS})) AS fingerprint,
       COUNT(*) AS n_assets, MIN(doc_id) AS keep_doc_id,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
FROM documents
GROUP BY 1 HAVING COUNT(*) > 1
ORDER BY fingerprint
"""


def mm_asset_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality ingest summary — assets seen, unique fingerprints
    (the shared {FP_PREFIX_CHARS}-char prefix key), duplicate ratio:
    the monitoring readout an asset-landing pipeline emits per batch.
    This is the BATCH twin of ``streaming.jobs.run_asset_ingest_stream``
    (same ``project_assets`` projection, same ``asset_fingerprint``
    key, stream==batch asserted in pytest); the oracle gating this form
    transitively gates the streaming semantics.

    Scale: one map-side-combined groupBy per metric — the distinct
    count is a (media_type, fingerprint) pre-aggregation, never a
    holistic set; state in the streaming form shards by the same key."""
    a = _assets(spark, sf_dir).select(
        "media_type", asset_fingerprint().alias("fp")
    )
    return (
        a.groupBy("media_type")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.countDistinct("fp").cast("long").alias("n_unique_fp"),
        )
        .select(
            "media_type",
            "n_assets",
            "n_unique_fp",
            # exact rational half-up on the count ratio (TIES.md B')
            F.expr(
                rat_round6_spark("n_assets - n_unique_fp", "n_assets")
            ).alias("dup_ratio"),
        )
        .orderBy("media_type")
    )


ORACLE_MM_INGEST = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         md5(substr(text, 1, {FP_PREFIX_CHARS})) AS fp
  FROM documents)
SELECT media_type,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_fp,
       CAST(((COUNT(*) - COUNT(DISTINCT fp)) * 2000000 + (COUNT(*))) // (2 * (COUNT(*))) AS DOUBLE) / 1000000.0
         AS dup_ratio
FROM a GROUP BY media_type ORDER BY media_type
"""


SHARD_BYTES = 4096  # target shard payload size (WebDataset-style packing)
MM_SHARD_SPAN = 64  # contiguous doc_id range per prefix-sum shard (see text.pack_context_bins)


def mm_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard packing plan: per media type, assets are
    laid out in doc_id order and packed into ~SHARD_BYTES-byte shards by
    exclusive running byte count — the sharding step before writing tar
    shards for a multimodal training loader. Same skew-safe two-pass
    prefix sum as text.pack_context_bins (a running sum cannot be salted;
    contiguous range-shards + offset broadcast reproduce the global
    running sum bit-exactly), over bytes instead of tokens."""
    assets = _assets(spark, sf_dir).select(
        "doc_id", "media_type", F.octet_length("payload").alias("n_bytes")
    )
    sharded = assets.withColumn(
        "rshard", F.expr(f"doc_id div {MM_SHARD_SPAN}")
    )
    shard_totals = sharded.groupBy("media_type", "rshard").agg(
        F.sum("n_bytes").alias("shard_bytes")
    )
    w_off = (
        W.partitionBy("media_type")
        .orderBy("rshard")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = shard_totals.select(
        "media_type",
        "rshard",
        F.coalesce(F.sum("shard_bytes").over(w_off), F.lit(0)).alias("off"),
    )
    w_local = (
        W.partitionBy("media_type", "rshard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local_excl = F.coalesce(F.sum("n_bytes").over(w_local), F.lit(0))
    return (
        sharded.join(F.broadcast(offsets), ["media_type", "rshard"])
        .withColumn("run_excl", F.col("off") + local_excl)
        .withColumn("shard_id", F.expr(f"run_excl div {SHARD_BYTES}"))
        .groupBy("media_type", "shard_id")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").alias("shard_payload_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("media_type", "shard_id")
    )


ORACLE_MM_SHARD = f"""
SELECT media_type, CAST(run_excl // {SHARD_BYTES} AS BIGINT) AS shard_id,
       COUNT(*) AS n_assets,
       CAST(SUM(n_bytes) AS BIGINT) AS shard_payload_bytes,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM (
  SELECT media_type, doc_id, n_bytes,
         CAST(COALESCE(SUM(n_bytes) OVER (
           PARTITION BY media_type ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS run_excl
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           octet_length(encode(text)) AS n_bytes
    FROM documents))
GROUP BY 1, 2 ORDER BY media_type, shard_id
"""


# --------------------------------------------------------------------------
# Block-hash near-dup (Hamming-style banded screen over binary payloads)
# --------------------------------------------------------------------------

BLOCK_LEN = 64  # bytes per head block
N_BLOCKS = 4  # blocks hashed per asset
MIN_BLOCK_MATCH = 3  # pigeonhole: ≥3-of-4 equal blocks → near-dup pair
MAX_BLOCK_DF = 50  # hot-block prune (shared boilerplate blocks)


def mm_neardup_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate assets by block hashing — the binary-payload
    analogue of SimHash banding: hash {N_BLOCKS} fixed {BLOCK_LEN}-byte
    head blocks per asset, band-join on (block index, hash), and keep
    pairs agreeing on ≥{MIN_BLOCK_MATCH} blocks. An asset pair differing
    by one localized edit still shares {N_BLOCKS}−1 blocks (pigeonhole),
    while ``mm_dedup_fingerprint``'s single whole-prefix hash only finds
    EXACT prefix copies. Empty blocks (payload shorter than the block
    offset) are excluded, so short assets can never pair on vacuous
    matches; blocks shared by >{MAX_BLOCK_DF} assets are pruned before
    pairing (shared boilerplate headers would contribute O(df²) pairs —
    the same stop-shingle rule as the Jaccard inverted index, mirrored
    in the oracle so exactness is preserved).

    Scale: band join on (block, hash) buckets — candidate volume is
    Σ df² over sub-threshold buckets, never assets²; one groupBy pair
    count after. All hashing is md5 on utf-8 round-tripped bytes, so
    both engines hash identical strings."""
    a = _assets(spark, sf_dir)
    # Character length, NOT octet_length: the slicing below is substring
    # over cast(payload as string) — character-indexed — and the oracle
    # filters/slices in characters too. A byte-length filter would admit
    # blocks past the character end for any multi-byte (non-ASCII)
    # payload; those would hash md5('') and vacuously pair unrelated
    # short docs, so filter and slice must share one unit.
    blocks = (
        a.select(
            "doc_id",
            F.length(F.col("payload").cast("string")).alias("blen"),
            F.explode(
                F.sequence(F.lit(0), F.lit(N_BLOCKS - 1))
            ).alias("q"),
        )
        .filter(F.col("q") * BLOCK_LEN < F.col("blen"))
        .join(a.select("doc_id", "payload"), "doc_id")
        .select(
            "doc_id",
            "q",
            F.md5(
                F.expr(
                    "substring(cast(payload as string), "
                    f"q * {BLOCK_LEN} + 1, {BLOCK_LEN})"
                )
            ).alias("h"),
        )
    )
    pruned = (
        blocks.groupBy("q", "h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(
            (F.size("ids") <= MAX_BLOCK_DF) & (F.size("ids") > 1)
        )
    )
    pairs = (
        bucket_pairs(pruned)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= MIN_BLOCK_MATCH)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("m").cast("int").alias("n_matching_blocks"),
    ).orderBy("doc_a", "doc_b")


ORACLE_MM_NEARDUP = f"""
WITH b AS (
  SELECT doc_id, q, md5(substr(text, q * {BLOCK_LEN} + 1, {BLOCK_LEN}))
           AS h
  FROM documents, unnest(range({N_BLOCKS})) AS u(q)
  WHERE q * {BLOCK_LEN} < length(text)),
pr AS (SELECT q, h FROM b GROUP BY q, h
       HAVING COUNT(*) <= {MAX_BLOCK_DF} AND COUNT(*) > 1),
bp AS (SELECT b.doc_id, b.q, b.h FROM b JOIN pr USING (q, h)),
pair AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS m
  FROM bp a JOIN bp c ON a.q = c.q AND a.h = c.h AND a.doc_id < c.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(m AS INT) AS n_matching_blocks
FROM pair WHERE m >= {MIN_BLOCK_MATCH}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# CLIP-style joint text+image featurizer (batched two-tower forward pass)
# --------------------------------------------------------------------------

CLIP_DIM = 8  # embedding width of the stub two-tower model


def mm_clip_joint_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-shaped joint featurizer over (caption, image) pairs: ONE
    Arrow-batched ``mapInPandas`` "forward pass" consumes each image
    doc's caption features and binary payload and emits BOTH towers —
    a {CLIP_DIM}-dim text embedding and a {CLIP_DIM}-dim image
    embedding — then the JVM computes the cross-modal alignment score
    (cosine) per doc. The model is a clearly-deterministic STUB (integer
    feature mixing; a real deployment swaps in an ONNX/torch forward
    with the identical batch contract: pandas batch in, two
    fixed-width embedding columns out), so the DuckDB oracle can
    re-derive every cell.

    Exactness: tower components are small integers (+1 floor keeps both
    norms positive — no degenerate-cosine guard needed), so dot/norm²
    sums are exact integer-valued doubles regardless of combine order;
    the only float steps are one sqrt·sqrt product and one division,
    written in the identical operation order in both engines, then 6dp.

    Scale: map-only featurization (the only knob is input split size) +
    a per-row scalar projection — no shuffle at all; at 100 TB this is
    the embarrassingly-parallel batch-inference shape."""
    return (
        _clip_towers(spark, sf_dir)
        .select(
            "doc_id",
            "byte_len",
            F.expr(
                "aggregate(zip_with(t_emb, i_emb, (x, y) -> x * y), "
                "0L, (a, x) -> a + x)"
            ).alias("dot"),
            F.expr(
                "aggregate(t_emb, 0L, (a, x) -> a + x * x)"
            ).alias("t_norm2"),
            F.expr(
                "aggregate(i_emb, 0L, (a, x) -> a + x * x)"
            ).alias("i_norm2"),
        )
        .withColumn(
            "align_r6",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("t_norm2").cast("double"))
                    * F.sqrt(F.col("i_norm2").cast("double"))
                ),
                6,
            ),
        )
        .orderBy("doc_id")
    )


def _clip_towers(
    spark: SparkSession, sf_dir: str, max_doc_id: int | None = None
) -> DataFrame:
    """The shared stub two-tower forward pass: (doc_id, byte_len,
    t_emb, i_emb) for every image doc, one Arrow batch per task.
    ``max_doc_id`` restricts the input BEFORE the Python stage —
    predicates cannot push through MapInPandasExec, so a probe-side
    caller that filtered afterwards would featurize the whole corpus
    and discard it (the stub is row-local; pre-filtering is
    semantics-preserving)."""
    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "image")
    if max_doc_id is not None:
        assets = assets.filter(F.col("doc_id") < max_doc_id)
    feats = (
        catalog.load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tok"),
            F.length("text").alias("n_chars"),
        )
        .join(assets.select("doc_id", "payload"), "doc_id")
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("byte_len", T.IntegerType()),
            T.StructField("t_emb", T.ArrayType(T.LongType())),
            T.StructField("i_emb", T.ArrayType(T.LongType())),
        ]
    )

    def forward(batches):
        for pdf in batches:
            ids, blens, t_embs, i_embs = [], [], [], []
            for doc_id, n_tok, n_chars, payload in zip(
                pdf["doc_id"], pdf["n_tok"], pdf["n_chars"], pdf["payload"]
            ):
                blen = len(payload)
                wdt, hgt, ch = _fake_decode(bytes(payload))
                t = [
                    (int(n_tok) * (2 * j + 3) + int(n_chars) * (j + 1) + 7)
                    % 97 + 1
                    for j in range(CLIP_DIM)
                ]
                i = [
                    (blen * (3 * j + 1) + wdt * (j + 2) + hgt * (j + 5)
                     + ch * 11) % 101 + 1
                    for j in range(CLIP_DIM)
                ]
                ids.append(doc_id)
                blens.append(blen)
                t_embs.append(t)
                i_embs.append(i)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "byte_len": blens,
                    "t_emb": t_embs,
                    "i_emb": i_embs,
                }
            )

    return feats.mapInPandas(forward, out_schema)


# Shared tower-derivation CTEs for the stub-CLIP oracles: ONE source of
# truth for the feature formulas (mirrors _fake_decode and the forward()
# integer mixing) so an edit cannot desync ORACLE_MM_CLIP from
# ORACLE_MM_RETRIEVAL — the same single-definition posture as dedup.py's
# closure CTE constant.
_TOWER_CTES = f"""f AS (
  SELECT doc_id,
         octet_length(encode(text)) AS blen,
         len(string_split(text, ' ')) AS n_tok,
         length(text) AS n_chars
  FROM documents WHERE doc_id % 3 = 0),
d AS (
  SELECT doc_id, blen, n_tok, n_chars,
         64 + blen % 576 AS wdt,
         64 + (blen * 7) % 416 AS hgt,
         1 + blen % 3 AS ch
  FROM f),
e AS (
  SELECT doc_id, blen, j,
         (n_tok * (2*j + 3) + n_chars * (j + 1) + 7) % 97 + 1 AS t,
         (blen * (3*j + 1) + wdt * (j + 2) + hgt * (j + 5) + ch * 11)
           % 101 + 1 AS i
  FROM d, unnest(range({CLIP_DIM})) AS u(j))"""


ORACLE_MM_CLIP = f"""
WITH {_TOWER_CTES},
g AS (
  SELECT doc_id, MAX(blen) AS byte_len,
         SUM(t * i) AS dot, SUM(t * t) AS t_norm2, SUM(i * i) AS i_norm2
  FROM e GROUP BY doc_id)
SELECT doc_id, CAST(byte_len AS INT) AS byte_len,
       CAST(dot AS BIGINT) AS dot,
       CAST(t_norm2 AS BIGINT) AS t_norm2,
       CAST(i_norm2 AS BIGINT) AS i_norm2,
       ROUND(CAST(dot AS DOUBLE)
             / (sqrt(CAST(t_norm2 AS DOUBLE))
                * sqrt(CAST(i_norm2 AS DOUBLE))), 6) AS align_r6
FROM g ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Cross-modal retrieval: caption queries → image candidates (CLIP recall)
# --------------------------------------------------------------------------

MM_RETR_QMAX = 96  # probe captions: image docs with doc_id < 96 (32 queries)
MM_RETR_K = 3


def mm_caption_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval in the joint stub-CLIP space: each probe
    CAPTION's text embedding queries ALL image embeddings; top-{MM_RETR_K}
    by cosine. The exact brute-force baseline of text→image recall
    measurement (the multimodal twin of ``sim_cosine_topk``; the scale
    path over the same vectors is the LSH/IVF family in
    ``operators/similarity.py``).

    Scale: the probe side is bounded ({MM_RETR_QMAX//3} captions) and
    BROADCAST — the candidate scan stays distributed and shuffle-free
    until the per-query top-k window (scores shuffled by qid, the
    sim_cosine_topk envelope). Determinism: dot/norms are exact
    integers (identical on both engines), ranking orders by the
    6dp-rounded cosine with a candidate-id tie-break, so no float
    near-tie can split the engines."""
    q = _clip_towers(spark, sf_dir, max_doc_id=MM_RETR_QMAX).select(
        F.col("doc_id").alias("qid"), F.col("t_emb").alias("q_emb")
    )
    c = _clip_towers(spark, sf_dir).select(
        F.col("doc_id").alias("cand_id"), F.col("i_emb").alias("c_emb")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cand_id",
        F.expr(
            "aggregate(zip_with(q_emb, c_emb, (x, y) -> x * y), "
            "0L, (a, x) -> a + x)"
        ).alias("dot"),
        F.expr("aggregate(q_emb, 0L, (a, x) -> a + x * x)").alias("qn2"),
        F.expr("aggregate(c_emb, 0L, (a, x) -> a + x * x)").alias("cn2"),
    ).withColumn(
        "sim_r6",
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("cn2").cast("double"))
            ),
            6,
        ),
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim_r6"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MM_RETR_K)
        .select("qid", F.col("rank").cast("int").alias("rank"),
                "cand_id", "sim_r6")
        .orderBy("qid", "rank")
    )


ORACLE_MM_RETRIEVAL = f"""
WITH {_TOWER_CTES},
s AS (
  SELECT q.doc_id AS qid, c.doc_id AS cand_id,
         CAST(SUM(q.t * c.i) AS BIGINT) AS dot,
         CAST(SUM(q.t * q.t) AS BIGINT) AS qn2,
         CAST(SUM(c.i * c.i) AS BIGINT) AS cn2
  FROM e q JOIN e c ON q.j = c.j
  WHERE q.doc_id < {MM_RETR_QMAX}
  GROUP BY 1, 2),
r AS (
  SELECT qid, cand_id,
         ROUND(CAST(dot AS DOUBLE)
               / (sqrt(CAST(qn2 AS DOUBLE))
                  * sqrt(CAST(cn2 AS DOUBLE))), 6) AS sim_r6
  FROM s),
rk AS (
  SELECT qid, cand_id, sim_r6,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_r6 DESC, cand_id) AS rank
  FROM r)
SELECT qid, CAST(rank AS INT) AS rank, cand_id, sim_r6
FROM rk WHERE rank <= {MM_RETR_K}
ORDER BY qid, rank
"""


# --------------------------------------------------------------------------
# Video keyframe near-dup → connected components (canonical video per set)
# --------------------------------------------------------------------------

FRAME_CHARS = 32  # chars of payload per keyframe signature
MIN_FRAME_MATCH = 2  # >=2 shared keyframe signatures -> near-dup pair
MAX_FRAME_DF = 50  # hot-signature prune (shared boilerplate frames)


def mm_video_keyframe_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup clustering by KEYFRAME signature, chained into the
    connected-components machinery of ``dedup_canonical_corpus``:
    sample every 2nd frame (the ``mm_frame_sample`` contract:
    n_frames = 1 + byte_len % 10), signature each keyframe's
    {FRAME_CHARS}-char content block (a real pipeline would perceptual-
    hash the decoded frame; the stub hashes the frame's byte block with
    the identical (doc_id, frame_idx → signature) contract), band-join
    videos on (frame_idx, signature) with the {MAX_FRAME_DF}-df
    hot-signature prune, keep pairs sharing ≥{MIN_FRAME_MATCH}
    keyframes (pigeonhole: one re-encoded/trimmed segment still leaves
    the rest matching), and contract pairs to components — every video
    appears, the canonical copy is the component's min doc_id.

    Char-length filtering matches the char-indexed slicing on both
    engines (the mm_neardup_hamming unit lesson). Scale: candidate
    volume is Σ df² over sub-threshold (frame_idx, signature) buckets —
    never videos² — and the contraction is O(log n) star rounds; the
    final membership count is a per-component window (component-
    bounded, the justified-bounded-window class)."""
    from .dedup import cc_components

    v = _assets(spark, sf_dir).filter(F.col("media_type") == "video")
    frames = (
        v.select(
            "doc_id",
            "payload",
            F.length(F.col("payload").cast("string")).alias("clen"),
            (1 + F.octet_length("payload") % 10).alias("n_frames"),
        )
        .select(
            "doc_id",
            "payload",
            "clen",
            F.explode(
                F.expr("sequence(0, n_frames - 1, 2)")
            ).alias("fidx"),
        )
        .filter(F.col("fidx") * FRAME_CHARS < F.col("clen"))
        .select(
            "doc_id",
            "fidx",
            F.md5(
                F.expr(
                    "substring(cast(payload as string), "
                    f"fidx * {FRAME_CHARS} + 1, {FRAME_CHARS})"
                )
            ).alias("sig"),
        )
    )
    pruned = (
        frames.groupBy("fidx", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") <= MAX_FRAME_DF) & (F.size("ids") > 1))
    )
    pairs = (
        bucket_pairs(pruned)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= MIN_FRAME_MATCH)
        .select("doc_a", "doc_b")
    )
    comp = cc_components(pairs)
    out = v.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).alias("component_id"),
    )
    wmem = W.partitionBy("component_id")
    return (
        out.withColumn(
            "n_members", F.count("*").over(wmem).cast("long")
        )
        .select(
            "doc_id",
            F.col("component_id").cast("long").alias("component_id"),
            "n_members",
            (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


ORACLE_MM_KEYFRAME = f"""
WITH RECURSIVE v AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
b AS (
  SELECT doc_id, fidx,
         md5(substr(text, fidx * {FRAME_CHARS} + 1, {FRAME_CHARS})) AS sig
  FROM (SELECT doc_id, text,
               1 + octet_length(encode(text)) % 10 AS n_frames
        FROM v),
       LATERAL unnest(range(0, n_frames, 2)) AS t(fidx)
  WHERE fidx * {FRAME_CHARS} < length(text)),
pr AS (SELECT fidx, sig FROM b GROUP BY fidx, sig
       HAVING COUNT(*) <= {MAX_FRAME_DF} AND COUNT(*) > 1),
bp AS (SELECT b.doc_id, b.fidx, b.sig FROM b JOIN pr USING (fidx, sig)),
dup AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bp a JOIN bp c ON a.fidx = c.fidx AND a.sig = c.sig
                     AND a.doc_id < c.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_FRAME_MATCH}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
         FROM reach GROUP BY src),
allv AS (
  SELECT v.doc_id, COALESCE(c.component_id, v.doc_id) AS component_id
  FROM v LEFT JOIN comp c USING (doc_id))
SELECT doc_id,
       CAST(component_id AS BIGINT) AS component_id,
       CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
         AS n_members,
       doc_id = component_id AS is_canonical
FROM allv ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Joint caption+image curation filter (LAION-style admission rules)
# --------------------------------------------------------------------------

CAP_MIN_TOK = 5
CAP_MIN_CHARS = 20
CAP_MAX_CHARS = 1000
IMG_MIN_SIDE = 100
IMG_MAX_ASPECT = 3  # longest side at most 3x the shortest


def mm_caption_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint (caption, image) admission filter — the LAION-style
    curation gate a text+image training pipeline applies before
    featurization: caption length/token floors, minimum resolution,
    aspect-ratio bounds (INTEGER cross-multiplication, no
    division-rounding drift), RGB-only. Emits every asset with its
    per-rule verdicts so rejection reasons are auditable (the rule mix
    is tuned from exactly this breakdown), plus the final ``keep``.

    Scale: decode happens once in the featurize pass
    (``mm_image_features`` contract); THIS stage is pure whole-stage
    codegen over its scalar outputs — no Python, no shuffle, runs at
    scan speed, and Catalyst pushes the projection to the parquet
    scan."""
    docs = catalog.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.length("text").alias("n_chars"),
    )
    a = (
        _assets(spark, sf_dir)
        .filter(F.col("media_type") == "image")
        .select("doc_id", F.octet_length("payload").alias("blen"))
        .join(docs, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            "n_chars",
            (64 + F.col("blen") % 576).alias("wdt"),
            (64 + (F.col("blen") * 7) % 416).alias("hgt"),
            (1 + F.col("blen") % 3).alias("ch"),
        )
    )
    cap_ok = (
        (F.col("n_tok") >= CAP_MIN_TOK)
        & (F.col("n_chars") >= CAP_MIN_CHARS)
        & (F.col("n_chars") <= CAP_MAX_CHARS)
    )
    res_ok = (F.col("wdt") >= IMG_MIN_SIDE) & (F.col("hgt") >= IMG_MIN_SIDE)
    aspect_ok = (F.col("wdt") <= IMG_MAX_ASPECT * F.col("hgt")) & (
        F.col("hgt") <= IMG_MAX_ASPECT * F.col("wdt")
    )
    rgb_ok = F.col("ch") == 3
    return a.select(
        "doc_id",
        cap_ok.alias("cap_ok"),
        res_ok.alias("res_ok"),
        aspect_ok.alias("aspect_ok"),
        rgb_ok.alias("rgb_ok"),
        (cap_ok & res_ok & aspect_ok & rgb_ok).alias("keep"),
    ).orderBy("doc_id")


ORACLE_MM_CAP_FILTER = f"""
WITH a AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         length(text) AS n_chars,
         64 + octet_length(encode(text)) % 576 AS wdt,
         64 + (octet_length(encode(text)) * 7) % 416 AS hgt,
         1 + octet_length(encode(text)) % 3 AS ch
  FROM documents WHERE doc_id % 3 = 0),
v AS (
  SELECT doc_id,
         n_tok >= {CAP_MIN_TOK} AND n_chars >= {CAP_MIN_CHARS}
           AND n_chars <= {CAP_MAX_CHARS} AS cap_ok,
         wdt >= {IMG_MIN_SIDE} AND hgt >= {IMG_MIN_SIDE} AS res_ok,
         wdt <= {IMG_MAX_ASPECT} * hgt
           AND hgt <= {IMG_MAX_ASPECT} * wdt AS aspect_ok,
         ch = 3 AS rgb_ok
  FROM a)
SELECT doc_id, cap_ok, res_ok, aspect_ok, rgb_ok,
       cap_ok AND res_ok AND aspect_ok AND rgb_ok AS keep
FROM v ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Per-modality byte-budget packing (training-mix quota curation)
# --------------------------------------------------------------------------

MM_QUOTA_BYTES = 20_000  # byte budget per media_type


def mm_modality_quota_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a fixed {MM_QUOTA_BYTES}-byte budget PER MODALITY with the
    highest-quality assets — the per-media_type quota step of a
    multimodal training mix (text/image/audio/video each get a byte
    budget; greedy by caption quality, doc_id tie-break, crossing asset
    included). The per-group twin of ``corpus_budget_pack``.

    Scale shape: the per-modality "sort by quality, running-sum, cut"
    uses the same bucket-histogram SELECTION as corpus_budget_pack,
    partitioned by media_type: a per-modality descending score-bucket
    histogram of BYTE MASS locates the buckets still under budget, and
    only those (~budget-sized) buckets run the in-bucket ordered prefix
    sum, partitioned per (media_type, bucket). Equal scores share a
    bucket for every bucket count, so the decomposition reproduces the
    per-modality global order exactly; no task ever sorts a full
    modality."""
    from .text import text_quality

    tq = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    a = (
        _assets(spark, sf_dir)
        .select(
            "doc_id",
            "media_type",
            F.octet_length("payload").alias("byte_len"),
        )
        .join(tq, "doc_id")
    )
    from .relational import MEDIAN_BUCKETS, MEDIAN_RESIDUAL_TARGET

    stats = a.groupBy("media_type").agg(
        F.min("quality_score").alias("lo"),
        F.max("quality_score").alias("hi"),
        F.count("*").alias("n"),
    ).select(
        "media_type",
        "lo",
        "hi",
        F.greatest(
            F.lit(MEDIAN_BUCKETS),
            F.ceil(F.col("n") / F.lit(MEDIAN_RESIDUAL_TARGET)),
        ).cast("long").alias("nb"),
    )
    b = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.col("nb") - 1,
            F.floor(
                (F.col("hi") - F.col("quality_score"))
                / (F.col("hi") - F.col("lo"))
                * F.col("nb")
            ),
        ),
    ).otherwise(0)
    binned = a.join(F.broadcast(stats), "media_type").select(
        "media_type",
        "doc_id",
        "byte_len",
        "quality_score",
        b.cast("long").alias("bucket"),
    )
    hist = binned.groupBy("media_type", "bucket").agg(
        F.sum("byte_len").alias("mass")
    )
    wcum = (
        W.partitionBy("media_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pref = (
        hist.withColumn("cum", F.sum("mass").over(wcum))
        .withColumn("bucket_before", F.col("cum") - F.col("mass"))
        .filter(F.col("bucket_before") < MM_QUOTA_BYTES)
        .select(
            F.col("media_type").alias("p_mt"),
            F.col("bucket").alias("p_bucket"),
            "bucket_before",
        )
    )
    w_in = (
        W.partitionBy("media_type", "bucket")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    kept = (
        binned.join(
            F.broadcast(pref),
            (F.col("media_type") == F.col("p_mt"))
            & (F.col("bucket") == F.col("p_bucket")),
        )
        .withColumn(
            "bytes_before",
            (
                F.col("bucket_before")
                + F.coalesce(F.sum("byte_len").over(w_in), F.lit(0))
            ).cast("long"),
        )
        .filter(F.col("bytes_before") < MM_QUOTA_BYTES)
    )
    return kept.select(
        "doc_id",
        "media_type",
        F.col("byte_len").cast("long").alias("byte_len"),
        "bytes_before",
    ).orderBy("doc_id")


def _oracle_mm_quota() -> str:
    # late import: text.py defines the score SQL; no import cycle
    # (text.py never imports multimodal)
    from .text import _SCORE_SQL


    return f"""
WITH tq AS ({_SCORE_SQL}),
a AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 3 = 0 THEN 'image'
              WHEN d.doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         octet_length(encode(d.text)) AS byte_len,
         t.quality_score
  FROM documents d JOIN tq t ON d.doc_id = t.doc_id),
o AS (
  SELECT doc_id, media_type, byte_len,
         COALESCE(SUM(byte_len) OVER (
             PARTITION BY media_type
             ORDER BY quality_score DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bytes_before
  FROM a)
SELECT doc_id, media_type, CAST(byte_len AS BIGINT) AS byte_len,
       CAST(bytes_before AS BIGINT) AS bytes_before
FROM o WHERE bytes_before < {MM_QUOTA_BYTES}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Audio landmark fingerprint matching (Shazam-shaped banded pair screen)
# --------------------------------------------------------------------------

FP_QUANT = 4  # quarter-unit RMS quantization for landmark bands
MIN_LANDMARKS = 2  # >=2 shared (window, band) landmarks -> match
MAX_LANDMARK_DF = 50  # hot-landmark prune


def mm_audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio match candidates by LANDMARK fingerprint — the Shazam
    shape: per-window RMS energies (the ``mm_audio_energy`` Arrow-
    batched decode stage, real mapInPandas plumbing) quantize into
    (window, ⌊rms·{FP_QUANT}⌋) landmarks; audios sharing
    ≥{MIN_LANDMARKS} landmarks at the SAME window position are emitted
    with their match count. Landmarks shared by >{MAX_LANDMARK_DF}
    assets are pruned (silence/boilerplate bands would contribute
    O(df²) pairs — the stop-shingle rule, mirrored in the oracle).

    Exactness: the landmark band is floor of a 4dp-half-up-rounded
    double × {FP_QUANT} — integer on both engines; pair counting is
    exact. Scale: Σ df² over sub-threshold landmark buckets, never
    assets²; one groupBy pair count after — the mm_neardup_hamming
    envelope with a Python-stage front end."""
    rms = mm_audio_energy(spark, sf_dir)
    lm = rms.select(
        "doc_id",
        "win",
        F.floor(F.col("rms_r4") * FP_QUANT).cast("long").alias("band"),
    )
    pruned = (
        lm.groupBy("win", "band")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") <= MAX_LANDMARK_DF) & (F.size("ids") > 1))
    )
    return (
        bucket_pairs(pruned)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= MIN_LANDMARKS)
        .select(
            "doc_a",
            "doc_b",
            F.col("m").cast("int").alias("n_shared_landmarks"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ASCII-ONLY ASSUMPTION (ADVICE r7): this oracle — like ORACLE_MM_AUDIO
# it builds on — re-derives the sample stream from `text` CODE POINTS
# (ascii(substr(text,i,1)), char positions), while the Spark stage
# consumes payload BYTES (np.frombuffer over encode(text,'utf-8')). The
# two units agree iff the audio-modality docs (doc_id % 3 = 1) are pure
# ASCII — true of every fixture SF and asserted across engines by
# tests/test_llm_ops.py::test_audio_modality_fixture_is_ascii, which
# also plants a non-ASCII doc to prove the units WOULD diverge (so the
# assumption can't silently rot if the fixture generator changes).
ORACLE_MM_AUDIO_FP = f"""
WITH rms AS (
  SELECT doc_id, (i - 1) // {AUDIO_WIN} AS win,
         ROUND(sqrt(avg(pow(ascii(substr(text, i, 1)) - 128, 2))), 4)
           AS rms_r4
  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
       LATERAL unnest(generate_series(1, len(text))) AS t(i)
  GROUP BY doc_id, win),
lm AS (
  SELECT doc_id, win,
         CAST(floor(rms_r4 * {FP_QUANT}) AS BIGINT) AS band
  FROM rms),
pr AS (SELECT win, band FROM lm GROUP BY win, band
       HAVING COUNT(*) <= {MAX_LANDMARK_DF} AND COUNT(*) > 1),
lp AS (SELECT lm.doc_id, lm.win, lm.band FROM lm JOIN pr USING (win, band)),
pair AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS m
  FROM lp a JOIN lp c ON a.win = c.win AND a.band = c.band
                     AND a.doc_id < c.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(m AS INT) AS n_shared_landmarks
FROM pair WHERE m >= {MIN_LANDMARKS}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Byte-level payload profiling (r10): histogram, RLE compressibility,
# chunked-upload manifest — all JVM-only byte arithmetic, no Python
# --------------------------------------------------------------------------

BYTE_BANDS = 16  # byte-value histogram granularity (band = byte div 16)


def mm_payload_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-value histogram per media type (band = byte div {BYTE_BANDS}):
    the content-type sanity probe a lake ingest runs on opaque blobs —
    text payloads concentrate in the ASCII bands, ciphertext/compressed
    payloads flatten out, and a band drift flags mislabeled or corrupt
    assets. Bytes come from hex(payload) pairs (engine-portable, no
    ASCII assumption); the explode is map-side and the rollup is
    (media_type × {BYTE_BANDS})-bounded."""
    # repartition ahead of the per-byte fan-out (the one-file scan would
    # otherwise run the explode as ONE task — ~17M byte rows at sf0.1)
    assets = _assets(spark, sf_dir).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    return assemble_byte_histogram(
        *byte_histogram_grains(payload_byte_bands(assets))
    )


def payload_byte_bands(assets: DataFrame) -> DataFrame:
    """One (media_type, band) row per payload byte — shared by the batch
    histogram and streaming/jobs.run_byte_histogram_stream so both
    surfaces band the identical bytes. hex(payload) is bound to a
    column BEFORE the HOF lambda: interpreted lambdas get no CSE, so an
    inline hex() would re-hex the payload per byte."""
    withhx = assets.select(
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    )
    # n >= 1 guard: Spark sequence(1, 0) DESCENDS [1, 0] (two bogus band
    # rows per empty payload) while DuckDB generate_series(1, 0) is
    # empty — not triggered by the fixture (no empty documents) but a
    # real divergence on corpora with empty assets (ADVICE r10).
    return withhx.filter(F.col("n") >= 1).select(
        "media_type",
        F.explode(
            F.expr(
                "transform(sequence(1, n), i -> "
                "cast(conv(substring(hx, 2 * i - 1, 2), 16, 10)"
                " as int) div 16)"
            )
        ).alias("band"),
    )


def byte_histogram_grains(bands: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (per_band, tot) counts over ``payload_byte_bands`` rows, shared
    by the batch histogram and streaming/jobs.run_byte_histogram_stream
    (which sinks each one)."""
    return (
        bands.groupBy("media_type", "band").agg(
            F.count("*").cast("long").alias("n_bytes")
        ),
        bands.groupBy("media_type").agg(
            F.count("*").cast("long").alias("n_total")
        ),
    )


def assemble_byte_histogram(per_band: DataFrame, tot: DataFrame) -> DataFrame:
    """Final histogram projection (shared batch/stream column contract):
    per-band byte counts joined to per-type totals, exact-rational
    share."""
    return (
        per_band.join(F.broadcast(tot), "media_type")
        .select(
            "media_type",
            F.col("band").cast("int").alias("band"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
            F.expr(rat_round6_spark("n_bytes", "n_total")).alias(
                "byte_share_r6"
            ),
        )
        .orderBy("media_type", "band")
    )


ORACLE_MM_BYTE_HIST = f"""
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
tot AS (SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM b GROUP BY 1),
h AS (
  SELECT media_type, CAST(band AS INT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_bytes
  FROM b GROUP BY 1, 2)
SELECT h.media_type, h.band, h.n_bytes,
       {rat_round6_duck("h.n_bytes", "tot.n_total")} AS byte_share_r6
FROM h JOIN tot USING (media_type)
ORDER BY media_type, band
"""


def mm_payload_rle_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding compressibility per asset — the cheap
    pre-codec probe (a payload whose RLE size beats raw is a flat/
    synthetic asset worth a different storage codec; high run counts
    mean entropy). n_runs counts byte positions whose byte differs from
    its predecessor (+1); the RLE estimate is the classic 2 bytes per
    run. All arithmetic over hex(payload) pairs — byte-exact on both
    engines, no decode, map-only."""
    # hex(payload) is bound ONCE per row before the HOF filter —
    # interpreted lambdas get no CSE, so referencing hex(payload)
    # inside the lambda re-hexes the whole payload per byte position
    # (16s -> ~2s at sf0.1; the text_quality single-binding lesson)
    # repartition: the CPU-bound HOF pass over the one-file fixture
    # otherwise runs as ONE task (the emb_margin_audit lesson); and the
    # run count is computed in its OWN projection so projection collapse
    # cannot inline the interpreted lambda once per consuming column
    assets = _assets(spark, sf_dir).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    ).select(
        "doc_id",
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    )
    runs = (
        "size(filter(sequence(2, greatest(n, 2)), i -> "
        "i <= n AND substring(hx, 2 * i - 1, 2) != "
        "substring(hx, 2 * i - 3, 2))) + 1"
    )
    counted = assets.select(
        "doc_id",
        "media_type",
        "n",
        F.expr(f"cast({runs} as bigint)").alias("n_runs"),
    )
    # (CollapseProject keeps n_runs un-inlined: it is non-cheap and
    # referenced twice below)
    return counted.select(
        "doc_id",
        "media_type",
        F.col("n").cast("long").alias("n_bytes"),
        "n_runs",
        F.expr(rat_round6_spark("2 * n_runs", "n")).alias(
            "rle_ratio_r6"
        ),
    ).orderBy("doc_id")


ORACLE_MM_RLE = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents),
r AS (
  SELECT doc_id, media_type, n,
         CAST(len(list_filter(generate_series(2, greatest(n, 2)), i ->
                i <= n AND substr(hx, 2 * i - 1, 2)
                           != substr(hx, 2 * i - 3, 2))) + 1
              AS BIGINT) AS n_runs
  FROM a)
SELECT doc_id, media_type, CAST(n AS BIGINT) AS n_bytes, n_runs,
       {rat_round6_duck("2 * n_runs", "n")} AS rle_ratio_r6
FROM r ORDER BY doc_id
"""


CHUNK_BYTES = 128  # multipart-upload / shard chunk size


def mm_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-upload manifest: split every asset into {CHUNK_BYTES}-byte
    ranges and emit one manifest row per chunk (offset, size, md5) —
    the multipart-upload/shard ledger an object-store ingest writes
    before moving blobs, and the unit a resumable transfer
    de-duplicates on. Chunk hashes are md5 over the HEX encoding of the
    byte range — sliced on hex(payload) pairs like the byte-histogram/
    RLE ops, so the hashed slice corresponds to the declared
    offset/nbytes byte range on ANY payload, not just ASCII (a
    character-based substring of cast(payload as string) drifts off the
    byte grid on multi-byte codepoints — ADVICE r10). The n >= 1 filter
    guards the empty-payload fan-out: Spark's (n-1) div {CHUNK_BYTES}
    truncates -1 div {CHUNK_BYTES} to 0 (one bogus chunk) where DuckDB's
    // floors to -1 (no row). The explode is map-side with
    ceil(n/{CHUNK_BYTES}) rows per asset."""
    assets = _assets(spark, sf_dir).select(
        "doc_id",
        "media_type",
        F.expr("hex(payload)").alias("hx"),
        F.octet_length("payload").alias("n"),
    )
    return (
        assets.filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "media_type",
            "hx",
            "n",
            F.explode(
                F.expr(f"sequence(0, (n - 1) div {CHUNK_BYTES})")
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "media_type",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * CHUNK_BYTES)
            .cast("long")
            .alias("offset"),
            F.least(
                F.lit(CHUNK_BYTES),
                F.col("n") - F.col("chunk_idx") * CHUNK_BYTES,
            )
            .cast("long")
            .alias("nbytes"),
            F.md5(
                F.expr(
                    f"substring(hx, chunk_idx * {2 * CHUNK_BYTES} + 1,"
                    f" {2 * CHUNK_BYTES})"
                )
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


ORACLE_MM_CHUNKS = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents),
c AS (
  SELECT doc_id, media_type, n, i AS chunk_idx
  FROM a, LATERAL unnest(generate_series(0, (n - 1) // {CHUNK_BYTES}))
       AS u(i)
  WHERE n >= 1)
SELECT doc_id, media_type, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_BYTES} AS BIGINT) AS offset,
       CAST(least({CHUNK_BYTES}, n - chunk_idx * {CHUNK_BYTES}) AS BIGINT)
         AS nbytes,
       md5(substr(a.hx, chunk_idx * {2 * CHUNK_BYTES} + 1,
                  {2 * CHUNK_BYTES}))
         AS chunk_md5
FROM c JOIN a USING (doc_id, media_type, n)
ORDER BY doc_id, chunk_idx
"""


# --------------------------------------------------------------------------
# Byte-level entropy proxy (collision rate per asset)
# --------------------------------------------------------------------------

def mm_payload_entropy_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset byte ENTROPY PROXY — the integer-exact stand-in for
    Shannon entropy (whose float logs don't cross-check): distinct byte
    count, the modal byte's count, and the byte collision rate
    Σ c(c−1)/(n(n−1)) (Simpson index over the byte histogram). Already-
    compressed/encrypted payloads sit near the 1/256 collision floor
    with ~256 distinct bytes; text and flat synthetics sit far above —
    the triage a codec/dedup planner runs before paying for a real
    compression probe (mm_payload_rle_compress is the next tier up).

    Scale: hex-pair explode (map-side, repartitioned off the one-file
    fixture), one (doc, byte)-grain agg absorbed by map-side partials,
    one doc rollup."""
    assets = _assets(spark, sf_dir).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    b = (
        assets.select(
            "doc_id",
            "media_type",
            F.expr("hex(payload)").alias("hx"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "media_type",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, n), i -> "
                    "cast(conv(substring(hx, 2 * i - 1, 2), 16, 10) as int))"
                )
            ).alias("byte"),
        )
    )
    cnt = b.groupBy("doc_id", "media_type", "n", "byte").agg(
        F.count("*").alias("c")
    )
    return (
        cnt.groupBy("doc_id", "media_type", "n")
        .agg(
            F.count("*").cast("long").alias("distinct_bytes"),
            F.max("c").cast("long").alias("top_byte_count"),
            F.sum(F.expr("c * (c - 1)")).alias("coll"),
        )
        .select(
            "doc_id",
            "media_type",
            F.col("n").cast("long").alias("n_bytes"),
            "distinct_bytes",
            "top_byte_count",
            F.expr(
                "case when n >= 2 then "
                + rat_round6_spark("coll", "cast(n as bigint) * (n - 1)")
                + " else 0.0d end"
            ).alias("collision_r6"),
        )
        .orderBy("doc_id")
    )


ORACLE_MM_ENTROPY_PROXY = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents),
b AS (
  SELECT doc_id, media_type, n,
         CAST('0x' || substr(hx, 2 * i - 1, 2) AS INT) AS byte
  FROM a, LATERAL unnest(generate_series(1, n)) AS u(i)
  WHERE n >= 1),
cnt AS (
  SELECT doc_id, media_type, n, byte, COUNT(*) AS c
  FROM b GROUP BY 1, 2, 3, 4)
SELECT doc_id, media_type, CAST(n AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS distinct_bytes,
       CAST(MAX(c) AS BIGINT) AS top_byte_count,
       CASE WHEN n >= 2 THEN
         {rat_round6_duck("CAST(SUM(c * (c - 1)) AS BIGINT)",
                          "CAST(n AS BIGINT) * (n - 1)")}
       ELSE 0.0 END AS collision_r6
FROM cnt GROUP BY doc_id, media_type, n
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Magic-byte (format signature) profile
# --------------------------------------------------------------------------

def mm_payload_magic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-signature profile: assets grouped by media_type and the
    first two payload bytes (the \"magic number\" prefix a format
    sniffer keys on — ffd8 = JPEG, 4944 = ID3, etc.), with counts,
    per-type shares and the byte-length span per signature. The intake
    audit that catches mislabeled or corrupted blobs (a media_type
    whose majority magic differs from its label) before any decoder
    runs — exactly the kind of cheap metadata pass a 100 TB ingest
    front-loads.

    Scale: pure map-side prefix extraction + one (type × magic)-bounded
    agg; no decode, no shuffle beyond the rollup."""
    assets = _assets(spark, sf_dir)
    g = (
        assets.select(
            "media_type",
            F.expr("substring(hex(payload), 1, 4)").alias("magic_hex"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .groupBy("media_type", "magic_hex")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.min("n").cast("long").alias("min_bytes"),
            F.max("n").cast("long").alias("max_bytes"),
        )
        .localCheckpoint(eager=True)  # bounded cells; feed totals join
    )
    tot = g.groupBy("media_type").agg(
        F.sum("n_assets").alias("n_type_total")
    )
    return (
        g.join(F.broadcast(tot), "media_type")
        .select(
            "media_type",
            "magic_hex",
            "n_assets",
            "min_bytes",
            "max_bytes",
            F.expr(rat_round6_spark("n_assets", "n_type_total")).alias(
                "type_share_r6"
            ),
        )
        .orderBy("media_type", "magic_hex")
    )


ORACLE_MM_MAGIC_PROFILE = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         substr(hex(encode(text)), 1, 4) AS magic_hex,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 2),
g AS (
  SELECT media_type, magic_hex,
         CAST(COUNT(*) AS BIGINT) AS n_assets,
         CAST(MIN(n) AS BIGINT) AS min_bytes,
         CAST(MAX(n) AS BIGINT) AS max_bytes
  FROM a GROUP BY 1, 2),
t AS (
  SELECT media_type, CAST(SUM(n_assets) AS BIGINT) AS n_type_total
  FROM g GROUP BY 1)
SELECT media_type, magic_hex, n_assets, min_bytes, max_bytes,
       {rat_round6_duck("n_assets", "n_type_total")} AS type_share_r6
FROM g JOIN t USING (media_type)
ORDER BY media_type, magic_hex
"""


# --------------------------------------------------------------------------
# Top byte bigrams per media type
# --------------------------------------------------------------------------

BIGRAM_TOP = 8


def mm_byte_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BIGRAM_TOP} byte BIGRAMS per media type — the order-2
    signature the byte histogram (order 1) can't see: container framing
    bytes, escape sequences and encoding artifacts show up as bigram
    spikes with flat unigram histograms. Rank is total (count desc,
    bigram hex asc), so the cut is deterministic.

    Scale: hex-pair slide (map-side), one (type × bigram)-grain agg
    with map-side partials, a type-partitioned top-k window on the
    BOUNDED (type × distinct-bigram ≤ 65536) frame."""
    assets = _assets(spark, sf_dir).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    bg = (
        assets.select(
            "media_type",
            F.expr("hex(payload)").alias("hx"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "media_type",
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 1), i -> "
                    "substring(hx, 2 * i - 1, 4))"
                )
            ).alias("bigram_hex"),
        )
    )
    cnt = bg.groupBy("media_type", "bigram_hex").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=True)  # bounded cells; feed totals + rank
    tot = cnt.groupBy("media_type").agg(F.sum("c").alias("n_bigrams"))
    w = W.partitionBy("media_type").orderBy(
        F.desc("c"), F.asc("bigram_hex")
    )
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BIGRAM_TOP)
        .join(F.broadcast(tot), "media_type")
        .select(
            "media_type",
            F.col("rank").cast("int").alias("rank"),
            "bigram_hex",
            F.col("c").cast("long").alias("n_occurrences"),
            F.expr(rat_round6_spark("c", "n_bigrams")).alias(
                "bigram_share_r6"
            ),
        )
        .orderBy("media_type", "rank")
    )


ORACLE_MM_BYTE_BIGRAMS = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents),
bg AS (
  SELECT media_type, substr(hx, 2 * i - 1, 4) AS bigram_hex
  FROM a, LATERAL unnest(generate_series(1, n - 1)) AS u(i)
  WHERE n >= 2),
cnt AS (
  SELECT media_type, bigram_hex, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY 1, 2),
t AS (SELECT media_type, CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM cnt GROUP BY 1),
r AS (
  SELECT media_type, bigram_hex, c,
         ROW_NUMBER() OVER (PARTITION BY media_type
                            ORDER BY c DESC, bigram_hex) AS rank
  FROM cnt)
SELECT r.media_type, CAST(rank AS INT) AS rank, bigram_hex,
       c AS n_occurrences,
       {rat_round6_duck("c", "n_bigrams")} AS bigram_share_r6
FROM r JOIN t USING (media_type)
WHERE rank <= {BIGRAM_TOP}
ORDER BY media_type, rank
"""


# --------------------------------------------------------------------------
# Byte-delta (smoothness) profile per media type
# --------------------------------------------------------------------------

def mm_byte_delta_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-DELTA profile per media type: |b[i+1] − b[i]| banded on the
    log2 grid (band = bit_length of the delta; 0 = repeated byte) — the
    smoothness signature that separates continuous-tone signals (audio/
    image rasters: small deltas dominate, delta-encoding wins) from
    text/compressed payloads (flat delta spectrum). Complements the
    order-0 histogram (values), the RLE probe (exact repeats) and the
    bigram table (exact pairs) with the magnitude-of-change view.

    Scale: hex-pair slide bound once per row (no per-lambda re-hex),
    map-side band fan-out absorbed by partial aggs into a
    (type × ≤9-band) frame."""
    assets = _assets(spark, sf_dir).repartition(
        max(spark.sparkContext.defaultParallelism, 16), "doc_id"
    )
    cnt = byte_delta_cells(byte_delta_bands(assets)).localCheckpoint(
        eager=True
    )  # bounded cells; feeds totals + shares
    tot = cnt.groupBy("media_type").agg(F.sum("n_deltas").alias("n_total"))
    return assemble_byte_delta_profile(cnt, tot)


def byte_delta_bands(assets: DataFrame) -> DataFrame:
    """One (media_type, band) row per adjacent byte pair — shared by the
    batch profile and streaming/jobs.run_byte_delta_stream so both
    surfaces band the identical deltas (the payload_byte_bands
    convention). hex(payload) binds to a column BEFORE the HOF lambda
    (interpreted lambdas get no CSE)."""
    return (
        assets.select(
            "media_type",
            F.expr("hex(payload)").alias("hx"),
            F.octet_length("payload").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "media_type",
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 1), i -> "
                    "abs(cast(conv(substring(hx, 2 * i - 1, 2), 16, 10)"
                    " as int) - "
                    "cast(conv(substring(hx, 2 * i + 1, 2), 16, 10)"
                    " as int)))"
                )
            ).alias("delta"),
        )
        .select(
            "media_type",
            F.expr(
                "case when delta = 0 then 0 "
                "else length(bin(delta)) end"
            ).alias("band"),
        )
    )


def byte_delta_cells(bands: DataFrame) -> DataFrame:
    """The (media_type, band, n_deltas) counts over ``byte_delta_bands``
    rows, shared by the batch profile and
    streaming/jobs.run_byte_delta_stream."""
    return bands.groupBy("media_type", "band").agg(
        F.count("*").alias("n_deltas")
    )


def assemble_byte_delta_profile(cnt: DataFrame, tot: DataFrame) -> DataFrame:
    """Final projection (shared batch/stream column contract): per-band
    delta counts joined to per-type totals, exact-rational share."""
    return (
        cnt.join(F.broadcast(tot), "media_type")
        .select(
            "media_type",
            F.col("band").cast("int").alias("band"),
            F.col("n_deltas").cast("long").alias("n_deltas"),
            F.expr(rat_round6_spark("n_deltas", "n_total")).alias(
                "delta_share_r6"
            ),
        )
        .orderBy("media_type", "band")
    )


ORACLE_MM_BYTE_DELTA = f"""
WITH a AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents),
d AS (
  SELECT media_type,
         abs(CAST('0x' || substr(hx, 2 * i - 1, 2) AS INT)
             - CAST('0x' || substr(hx, 2 * i + 1, 2) AS INT)) AS delta
  FROM a, LATERAL unnest(generate_series(1, n - 1)) AS u(i)
  WHERE n >= 2),
b AS (
  SELECT media_type,
         CASE WHEN delta = 0 THEN 0 ELSE LENGTH(bin(delta)) END AS band
  FROM d),
cnt AS (
  SELECT media_type, band, CAST(COUNT(*) AS BIGINT) AS n_deltas
  FROM b GROUP BY 1, 2),
t AS (SELECT media_type, CAST(SUM(n_deltas) AS BIGINT) AS n_total
      FROM cnt GROUP BY 1)
SELECT media_type, CAST(band AS INT) AS band, n_deltas,
       {rat_round6_duck("n_deltas", "n_total")} AS delta_share_r6
FROM cnt JOIN t USING (media_type)
ORDER BY media_type, band
"""


SPECS = [
    QuerySpec("mm_byte_delta_profile", mm_byte_delta_profile,
              ORACLE_MM_BYTE_DELTA, ("multimodal", "bytes", "stats"),
              doc="log2-banded |byte delta| smoothness profile per "
                  "media type (delta-encoding gain probe)"),
    QuerySpec("mm_payload_entropy_proxy", mm_payload_entropy_proxy,
              ORACLE_MM_ENTROPY_PROXY, ("multimodal", "bytes", "stats"),
              doc="per-asset byte collision rate + distinct/modal byte "
                  "counts (integer entropy proxy, pre-codec triage)"),
    QuerySpec("mm_payload_magic_profile", mm_payload_magic_profile,
              ORACLE_MM_MAGIC_PROFILE, ("multimodal", "bytes", "audit"),
              doc="magic-byte (2-byte prefix) format-signature profile "
                  "per media type with shares and size spans"),
    QuerySpec("mm_byte_bigram_topk", mm_byte_bigram_topk,
              ORACLE_MM_BYTE_BIGRAMS, ("multimodal", "bytes", "stats"),
              doc="top byte bigrams per media type (order-2 payload "
                  "signature; deterministic rank cut)"),
    QuerySpec("mm_binary_meta", mm_binary_meta, ORACLE_MM_META, ("multimodal",)),
    QuerySpec("mm_payload_byte_histogram", mm_payload_byte_histogram,
              ORACLE_MM_BYTE_HIST, ("multimodal", "stats"),
              doc="byte-value histogram per media type from hex(payload) "
                  "pairs (content-type sanity probe, 16 bands)"),
    QuerySpec("mm_payload_rle_compress", mm_payload_rle_compress,
              ORACLE_MM_RLE, ("multimodal", "stats"),
              doc="RLE compressibility per asset (adjacent-byte run "
                  "count over hex pairs, 2-bytes-per-run estimate)"),
    QuerySpec("mm_chunk_manifest", mm_chunk_manifest, ORACLE_MM_CHUNKS,
              ("multimodal", "pipeline"),
              doc="multipart-upload chunk manifest (offset/size/md5 per "
                  "128-byte range, resumable-transfer ledger)"),
    QuerySpec("mm_dedup_fingerprint", mm_dedup_fingerprint,
              ORACLE_MM_DEDUP_FP, ("multimodal", "dedup"),
              doc="asset dedup by truncated payload fingerprint"),
    QuerySpec("mm_image_features", mm_image_features, ORACLE_MM_FEATURES,
              ("multimodal",)),
    QuerySpec("mm_frame_sample", mm_frame_sample, ORACLE_MM_FRAMES,
              ("multimodal",)),
    QuerySpec("mm_video_scene_cuts", mm_video_scene_cuts,
              ORACLE_MM_SCENE_CUTS, ("multimodal", "video", "segmentation"),
              doc="scene-cut detection over exact integer frame-feature "
                  "deltas (per-video lag window, cut-count islands, "
                  "scene rollup)"),
    QuerySpec("mm_audio_vad_segments", mm_audio_vad_segments, ORACLE_MM_VAD,
              ("multimodal", "audio", "segmentation"),
              doc="voice-activity segments over integer energy windows "
                  "(exact sum-of-squares threshold, gaps-and-islands "
                  "coalescing, per-asset rollup)"),
    QuerySpec("mm_audio_energy", mm_audio_energy, ORACLE_MM_AUDIO,
              ("multimodal", "audio")),
    QuerySpec("mm_image_resize", mm_image_resize, ORACLE_MM_RESIZE,
              ("multimodal", "resize")),
    QuerySpec("mm_shard_pack", mm_shard_pack, ORACLE_MM_SHARD,
              ("multimodal", "pipeline"),
              doc="WebDataset-style size-bounded shard packing plan"),
    QuerySpec("mm_neardup_hamming", mm_neardup_hamming, ORACLE_MM_NEARDUP,
              ("multimodal", "dedup", "lsh"),
              doc="block-hash near-dup screen over binary payloads "
                  "(>=3-of-4 head blocks equal, hot-block pruned band "
                  "join - the Hamming analogue of SimHash banding)"),
    QuerySpec("mm_clip_joint_align", mm_clip_joint_align, ORACLE_MM_CLIP,
              ("multimodal", "embedding"),
              doc="CLIP-style two-tower joint featurizer (one Arrow "
                  "batch forward pass emits text+image embeddings) "
                  "with per-doc cross-modal cosine alignment"),
    QuerySpec("mm_video_keyframe_dedup", mm_video_keyframe_dedup,
              ORACLE_MM_KEYFRAME, ("multimodal", "dedup", "graph"),
              doc="video near-dup by shared keyframe signatures, "
                  "contracted to connected components with a canonical "
                  "copy per cluster"),
    QuerySpec("mm_audio_fingerprint_match", mm_audio_fingerprint_match,
              ORACLE_MM_AUDIO_FP, ("multimodal", "audio", "lsh"),
              doc="Shazam-shaped audio landmark fingerprint match "
                  "(windowed RMS bands, hot-landmark pruned band join)"),
    QuerySpec("mm_caption_retrieval", mm_caption_retrieval,
              ORACLE_MM_RETRIEVAL, ("multimodal", "similarity"),
              doc="cross-modal caption->image top-k retrieval in the "
                  "joint stub-CLIP space (broadcast probe captions, "
                  "exact brute-force baseline)"),
    QuerySpec("mm_caption_quality_filter", mm_caption_quality_filter,
              ORACLE_MM_CAP_FILTER, ("multimodal", "curation"),
              doc="LAION-style joint caption+image admission filter "
                  "with auditable per-rule verdicts (pure codegen)"),
    QuerySpec("mm_modality_quota_pack", mm_modality_quota_pack,
              _oracle_mm_quota(), ("multimodal", "curation"),
              doc="per-modality byte-budget greedy quota pack via the "
                  "bucket-histogram selection (no full-modality sort)"),
    QuerySpec("mm_asset_ingest_stats", mm_asset_ingest_stats,
              ORACLE_MM_INGEST, ("multimodal", "streaming", "dedup"),
              doc="per-modality ingest monitoring (assets seen, unique "
                  "fingerprints, dup ratio); batch twin of the "
                  "streaming asset-ingest pipeline"),
]
