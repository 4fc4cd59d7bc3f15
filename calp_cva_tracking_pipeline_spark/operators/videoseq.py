"""Frame-sequence video analysis over a REAL self-describing container.

The multimodal pillar's video tier, honestly scoped: arbitrary codecs
(H.264/VP9) need ffmpeg, which this environment does not ship — those
payloads keep the labeled per-row stub in ``operators.multimodal``. But
the VIDEO PIPELINE SHAPE — container parse → frame extraction → per-
frame decode → temporal analysis — is fully real here over FRSQ, a
minimal frame-sequence container this module defines (magic ``FRSQ`` +
frame count + length-prefixed BMP frames, every frame a REAL
``bmp_stdlib`` image). Surveillance exports, scientific capture rigs and
intermediate "image sequence" formats (MJPEG-in-AVI, DPX/EXR sequences)
have exactly this structure.

Scale design — same discipline as ``operators.phash``:

- **Decode is the only Python stage**: one Arrow-batched mapInPandas
  pass parses the container, runs the real BMP decode per frame, and
  emits one INTEGER stat row per frame (luma sum + pixel count). A
  1-hour 30 fps clip emits 108k tiny rows — frame rows ≪ pixel bytes,
  and everything after is JVM expression code.
- **Scene cuts are a keyed window**: per-video lag over frame index,
  cut = |milli-luma mean step| ≥ threshold, integer-exact (milli-luma =
  1000·Σluma div n_px), so a SQL oracle that recomputes the frame
  pixels replays every verdict bit-for-bit — parity proves container
  encode → parse → frame decode is pixel-identity AND the temporal
  math matches.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from calp_cva_tracking_pipeline_spark.operators.dedup import bucket_pairs

FRSQ_MAGIC = b"FRSQ"

FRAME_STATS_SCHEMA = StructType(
    [
        StructField("__id", LongType(), False),
        StructField("frame_idx", LongType(), True),
        StructField("luma_sum", LongType(), True),
        StructField("n_px", LongType(), True),
        StructField("decode_ok", StringType(), False),
    ]
)


def encode_frsq(frames: list[bytes]) -> bytes:
    """Pack length-prefixed frame payloads into one FRSQ container."""
    out = [FRSQ_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(f)
    return b"".join(out)


def decode_frsq(payload: bytes) -> list[bytes]:
    """FRSQ container → frame payload list. Raises on malformed input
    (bad magic, truncated frame) — callers record decode_ok."""
    if payload[:4] != FRSQ_MAGIC:
        raise ValueError("not an FRSQ container")
    (n,) = struct.unpack_from("<I", payload, 4)
    off, frames = 8, []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        frame = payload[off : off + ln]
        if len(frame) != ln:
            raise ValueError("truncated FRSQ frame")
        frames.append(frame)
        off += ln
    return frames


def video_frame_stats(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """(id, FRSQ payload) → one row per frame: (media_id, frame_idx,
    luma_sum, n_px) via one Arrow-batched parse + REAL per-frame BMP
    decode. Undecodable containers surface as a single
    decode_ok='error' row, never silently dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
            decode_bmp,
        )
        from calp_cva_tracking_pipeline_spark.operators.png_stdlib import (
            to_grayscale,
        )

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    for i, fb in enumerate(decode_frsq(bytes(payload))):
                        w, h, ch, px = decode_bmp(fb)
                        grey = to_grayscale(w, h, ch, px)
                        rows.append(
                            (mid, i, sum(grey), len(grey), "ok_stdlib")
                        )
                except Exception:
                    rows.append((mid, None, None, None, "error"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "__id", "frame_idx", "luma_sum", "n_px", "decode_ok",
                ],
            )

    return (
        df.select(id_col, payload_col)
        .mapInPandas(run, FRAME_STATS_SCHEMA)
        .withColumnRenamed("__id", "media_id")
    )


def scene_cuts(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    threshold_milli: int = 20000,
) -> DataFrame:
    """Scene-cut detection per video: a cut at frame f when the
    milli-luma mean steps by ≥ ``threshold_milli`` from frame f−1
    (20000 = 20 luma levels — a hard cut; gradual fades need a windowed
    variant). Output one row per cut: (media_id, frame_idx,
    prev_mean_milli, mean_milli), ordered.

    Integer-exact end to end: milli-mean = 1000·Σluma div n_px, the
    step compares as integers, and the per-video lag rides ONE keyed
    exchange — so the SQL oracle replays every verdict.
    """
    stats = video_frame_stats(df, id_col, payload_col).filter(
        F.col("decode_ok") == "ok_stdlib"
    )
    mean_milli = F.expr("(1000 * luma_sum) div n_px")
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    t = stats.select(
        "media_id", "frame_idx", mean_milli.alias("mean_milli")
    ).withColumn("prev_mean_milli", F.lag("mean_milli").over(w))
    return (
        t.filter(
            F.col("prev_mean_milli").isNotNull()
            & (
                F.abs(F.col("mean_milli") - F.col("prev_mean_milli"))
                >= threshold_milli
            )
        )
        .select("media_id", "frame_idx", "prev_mean_milli", "mean_milli")
        .orderBy("media_id", "frame_idx")
    )


def synthesize_frsq_payloads(
    df: DataFrame,
    id_col: str,
    frames_col: str,
    width: int,
    height: int,
) -> DataFrame:
    """(id, array<array<int>> grey frames) → (doc_id, payload) REAL
    FRSQ containers of REAL 24-bpp BMP frames — the video twin of
    ``phash.synthesize_bmp_payloads`` (deterministic-corpus
    rationale)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
            encode_bmp,
        )

        for pdf in batches:
            ids, payloads = [], []
            for mid, frames in zip(pdf[id_col], pdf[frames_col]):
                fbs = []
                for px in frames:
                    rgb = bytearray()
                    for v in px:
                        rgb += bytes((int(v), int(v), int(v)))
                    fbs.append(encode_bmp(width, height, bytes(rgb)))
                ids.append(mid)
                payloads.append(encode_frsq(fbs))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    from calp_cva_tracking_pipeline_spark.operators.phash import (
        SYNTH_SCHEMA,
    )

    return df.select(id_col, frames_col).mapInPandas(run, SYNTH_SCHEMA)


def _frame_digests(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """One FRSQ parse + REAL per-frame BMP decode pass emitting
    (__id, frame_idx, digest, decode_ok='ok_stdlib') rows — the shared
    decode stage of ``frame_dedup_groups`` and ``video_neardup_pairs``.
    The digest input is ``"{w}x{h}:" + comma-joined lumas`` (dims
    prefixed so a 2x3 and a 3x2 frame with the same pixel sequence stay
    distinct); undecodable containers drop here with their error row
    filtered (callers count duplicates, not failures)."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
            decode_bmp,
        )
        from calp_cva_tracking_pipeline_spark.operators.png_stdlib import (
            to_grayscale,
        )

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    for i, fb in enumerate(decode_frsq(bytes(payload))):
                        w, h, ch, px = decode_bmp(fb)
                        grey = to_grayscale(w, h, ch, px)
                        dig = hashlib.md5(
                            (
                                f"{w}x{h}:"
                                + ",".join(str(v) for v in grey)
                            ).encode()
                        ).hexdigest()
                        rows.append((mid, i, dig, "ok_stdlib"))
                except Exception:
                    rows.append((mid, None, None, "error"))
            yield pd.DataFrame(
                rows,
                columns=["__id", "frame_idx", "digest", "decode_ok"],
            )

    schema = StructType(
        [
            StructField("__id", LongType(), False),
            StructField("frame_idx", LongType(), True),
            StructField("digest", StringType(), True),
            StructField("decode_ok", StringType(), False),
        ]
    )
    return (
        df.select(id_col, payload_col)
        .mapInPandas(run, schema)
        .filter(F.col("decode_ok") == "ok_stdlib")
    )


def frame_dedup_groups(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    min_group: int = 2,
) -> DataFrame:
    """Cross-video duplicate-FRAME groups: parse every FRSQ container,
    decode every frame (REAL BMP path), digest the decoded pixel array
    (md5 over the comma-joined luma values — a decode-level identity,
    so re-encoded byte-different copies of the same frame still match
    and a SQL oracle can recompute it from the pixel formula), and
    group frames by digest — the video twin of ``dedup.dedup_exact``
    (shared intros/outros/station idents across a clip corpus are the
    video tier's boilerplate).

    The digest input is ``"{w}x{h}:" + joined lumas`` so reshaped
    frames with the same pixel sequence stay distinct.

    One decode pass emitting (media, frame, digest) rows, one
    16-byte-digest groupBy with map-side combine — no pair expansion.
    Output per duplicate digest: (frame_digest, n_frames, n_videos,
    rep_media = min id, rep_frame = its first matching frame index),
    ordered by digest.
    """
    frames = _frame_digests(df, id_col, payload_col)
    best = F.struct(
        F.col("__id").alias("m"), F.col("frame_idx").alias("f")
    )
    return (
        frames.groupBy(F.col("digest").alias("frame_digest"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.countDistinct("__id").cast("bigint").alias("n_videos"),
            F.min(best).alias("__b"),
        )
        .filter(F.col("n_frames") >= min_group)
        .select(
            "frame_digest",
            "n_frames",
            "n_videos",
            F.col("__b.m").alias("rep_media"),
            F.col("__b.f").alias("rep_frame"),
        )
        .orderBy("frame_digest")
    )


def video_neardup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    min_shared: int = 1,
    max_videos_per_frame: int = 64,
) -> DataFrame:
    """Video-level NEAR-duplicate pairs by shared decoded-frame content —
    the clip-dedup step above ``frame_dedup_groups``: two videos that
    share frames (re-cut edits, clips with common footage, re-encoded
    copies with inserted idents) pair with their frame-set Jaccard,
    even when no whole-video byte identity exists. Matching is at the
    DECODE level (the dims-prefixed pixel digest), so re-encoded
    byte-different copies of the same frame still count as shared.

    Scale shape: ONE decode pass (shared ``_frame_digests`` stage) →
    per-video DISTINCT frame digests → ``dedup.bucket_pairs`` on the
    digest (NEVER a self-join of the decode-derived frame — that would
    plan and run the Python decode twice), with digests shared by more
    than ``max_videos_per_frame`` videos dropped as boilerplate
    (station idents shared by thousands of clips would explode pairs
    quadratically). Both per-video sizes and the pair counts aggregate
    off the SAME distinct exchange (plan-reuse-friendly: decode_ok
    filtering happens inside the shared stage). Jaccard is an exact
    integer ppm: 1e6·shared div (n_a + n_b − shared). Output:
    (id_a, id_b, shared_frames, n_frames_a, n_frames_b, jaccard_ppm)
    with shared_frames ≥ ``min_shared``, ordered.
    """
    vf = (
        _frame_digests(df, id_col, payload_col)
        .select("__id", "digest")
        .distinct()
    )
    vc = vf.groupBy(F.col("__id").alias("__v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nf")
    )
    pairs = (
        bucket_pairs(vf, ["digest"], "__id", max_videos_per_frame)
        .groupBy(
            F.col("__id_a").alias("id_a"), F.col("__id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )
    ca = vc.select(
        F.col("__v").alias("id_a"), F.col("__nf").alias("n_frames_a")
    )
    cb = vc.select(
        F.col("__v").alias("id_b"), F.col("__nf").alias("n_frames_b")
    )
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_frames",
            "n_frames_a",
            "n_frames_b",
            F.expr(
                "CAST(1000000 * shared_frames div"
                " (n_frames_a + n_frames_b - shared_frames) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


def video_summary(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    threshold_milli: int = 20000,
) -> DataFrame:
    """Per-video quality-gate summary off ONE decode pass: frame count,
    hard-cut count (the scene_cuts milli-luma lag criterion), distinct
    decode-level frame digests, duplicate-frame ppm and the whole-video
    milli-luma mean — the row a video-curation gate reads before
    spending encoder/captioning budget on a clip (a 0-cut,
    90%-duplicate-frame "video" is a slideshow; a near-black mean is a
    broken capture). Composes the scene-cut and frame-dedup kernels,
    but decodes ONCE: a combined mapInPandas pass emits per-frame
    (luma_sum, n_px, digest) rows — the integer stats of the cut
    criterion and the identity digests together, so the container is
    parsed and every BMP decoded exactly one time instead of once per
    readout. All integer/exact: cuts use the 1000·Σluma div n_px lag,
    dup ppm is a floor division, digests are the dims-prefixed md5
    convention. Undecodable containers drop by the decode_ok contract.
    Output: (media_id, n_frames, n_cuts, n_distinct_frames,
    dup_frame_ppm, mean_mluma), ordered.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
            decode_bmp,
        )
        from calp_cva_tracking_pipeline_spark.operators.png_stdlib import (
            to_grayscale,
        )

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    for i, fb in enumerate(decode_frsq(bytes(payload))):
                        w, h, ch, px = decode_bmp(fb)
                        grey = to_grayscale(w, h, ch, px)
                        dig = hashlib.md5(
                            (
                                f"{w}x{h}:"
                                + ",".join(str(v) for v in grey)
                            ).encode()
                        ).hexdigest()
                        rows.append(
                            (mid, i, sum(grey), len(grey), dig,
                             "ok_stdlib")
                        )
                except Exception:
                    rows.append((mid, None, None, None, None, "error"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "__id", "frame_idx", "luma_sum", "n_px", "digest",
                    "decode_ok",
                ],
            )

    schema = StructType(
        [
            StructField("__id", LongType(), False),
            StructField("frame_idx", LongType(), True),
            StructField("luma_sum", LongType(), True),
            StructField("n_px", LongType(), True),
            StructField("digest", StringType(), True),
            StructField("decode_ok", StringType(), False),
        ]
    )
    frames = (
        df.select(id_col, payload_col)
        .mapInPandas(run, schema)
        .filter(F.col("decode_ok") == "ok_stdlib")
    )
    w = Window.partitionBy("__id").orderBy("frame_idx")
    flagged = frames.select(
        "__id",
        "frame_idx",
        "luma_sum",
        "n_px",
        "digest",
        F.expr("(1000 * luma_sum) div n_px").alias("__mm"),
    ).withColumn(
        "__prev",
        F.lag(F.expr("(1000 * luma_sum) div n_px"), 1).over(w),
    )
    return (
        flagged.groupBy(F.col("__id").alias("media_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.sum(
                F.when(
                    F.col("__prev").isNotNull()
                    & (
                        F.abs(F.col("__mm") - F.col("__prev"))
                        >= threshold_milli
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_cuts"),
            F.countDistinct("digest").cast("bigint").alias(
                "n_distinct_frames"
            ),
            F.sum("luma_sum").alias("__ls"),
            F.sum("n_px").alias("__np"),
        )
        .select(
            "media_id",
            "n_frames",
            "n_cuts",
            "n_distinct_frames",
            F.expr(
                "CAST(1000000 * (n_frames - n_distinct_frames)"
                " div n_frames AS BIGINT)"
            ).alias("dup_frame_ppm"),
            F.expr("CAST((1000 * __ls) div __np AS BIGINT)").alias(
                "mean_mluma"
            ),
        )
        .orderBy("media_id")
    )
