"""Audio/video as opaque binary columns (north star: multimodal).

Same design as the PDF/image path (``multimodal/__init__.py``): the
codec layer is a pluggable callable — deterministic fakes here (the
container ships no ffmpeg/librosa), real decoders on a cluster image —
while the Spark-side contract is real and tested: Arrow-batched
``mapInPandas``, UDTF-shaped explosion (one blob → many frames),
bounded memory (batch size × frames per blob), blobs never on the
driver.

Scale notes: frame sampling is a map-only pass over ``binaryFile``
splits; downstream per-frame ops (feature extract, dedup hashing)
compose with the image operators since a frame row has the exact
(path, page→frame, image, width, height) page shape.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FRAME_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("frame", IntegerType()),
        StructField("ts_ms", LongType()),
        StructField("image", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def make_fake_frame_decoder() -> Callable[[bytes, int], list]:
    """Factory for the deterministic ffmpeg stand-in. Returns a
    SELF-CONTAINED closure (stdlib imports inside, zero references to
    this package) so a ``sample_frames`` plan pickles it BY VALUE —
    a module-level ``def`` pickles by reference and dies with
    ModuleNotFoundError on executors that can't import this repo
    (the driver-seam closure rule: capture only plain values)."""

    def decode(
        content: bytes, every_ms: int = 1000
    ) -> list[tuple[int, int, bytes, int, int]]:
        """Deterministic stand-in for an ffmpeg frame sampler: clip
        duration and frame pixels derive from the blob hash. Returns
        [(frame_idx, ts_ms, jpeg_bytes, width, height)] at
        ``every_ms`` spacing."""
        import hashlib
        import struct

        h = hashlib.md5(content).digest()
        duration_ms = 1000 * (1 + h[0] % 8)
        w, hgt = 160 + h[1] % 64, 90 + h[2] % 64
        frames = []
        for i, ts in enumerate(range(0, duration_ms, every_ms)):
            pix = hashlib.md5(content + struct.pack("<q", ts)).digest() * 4
            frames.append((i, ts, pix, w, hgt))
        return frames

    return decode


#: the default decoder instance — a by-value-picklable closure, same
#: (content, every_ms) signature the real decoder has
fake_decode_frames = make_fake_frame_decoder()


def sample_frames(
    videos: DataFrame,
    every_ms: int = 1000,
    decoder: Callable[[bytes, int], list] = fake_decode_frames,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Video blobs → one row per sampled frame (UDTF shape, like
    ``explode_pages``). Frames come out in the page-image shape, so
    the whole image operator family (preprocess, resize, OCR, detect)
    composes downstream unchanged."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for idx, ts, img, w, h in decoder(r[content_col], every_ms):
                    rows.append(
                        {
                            "path": r[path_col],
                            "frame": idx,
                            "ts_ms": ts,
                            "image": img,
                            "width": w,
                            "height": h,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA]
            )

    return videos.select(path_col, content_col).mapInPandas(gen, FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("duration_ms", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def make_fake_audio_extractor() -> Callable[[bytes], tuple]:
    """Factory for the deterministic librosa stand-in — a
    self-contained by-value-picklable closure, same rationale as
    ``make_fake_frame_decoder``."""

    def extract(content: bytes, n_mels: int = 16) -> tuple[int, list[float]]:
        """Deterministic stand-in for a mel-spectrogram summary
        (librosa): (duration_ms, n_mels-dim feature vector) from the
        blob hash. Features round through the package's portable
        formula (floor(x*10^6 + 0.5)/10^6 — ``functions.pround``):
        Python's bare round() is banker's, which an oracle replay in
        another engine cannot reproduce at ties.

        COMPAT NOTE (round 12): the rounding switched FROM banker's
        round() TO the formula above, changing emitted values at
        half-ulp ties — any external consumer pinning the old fake's
        outputs must re-pin (in-repo pins:
        ``test_av_fake_arithmetic_golden_pins``)."""
        import hashlib
        import math
        import struct

        h = hashlib.md5(content).digest()
        duration_ms = 500 * (1 + h[0] % 20)
        feats = [
            math.floor(
                int.from_bytes(
                    hashlib.md5(content + struct.pack("<i", i)).digest()[:4],
                    "big",
                )
                / 4294967296.0
                * 1000000.0
                + 0.5
            )
            / 1000000.0
            for i in range(n_mels)
        ]
        return duration_ms, feats

    return extract


#: the default extractor instance (by-value-picklable closure)
fake_audio_features = make_fake_audio_extractor()


def audio_features(
    audios: DataFrame,
    extractor: Callable[[bytes], tuple] = fake_audio_features,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Audio blobs → (path, duration_ms, features array<double>).

    The feature column is embedding-shaped, so the similarity / dedup
    operator family (``brute_force_topk``, ``embedding_neardup``)
    applies to audio directly."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                dur, feats = extractor(r[content_col])
                rows.append(
                    {
                        "path": r[path_col],
                        "duration_ms": dur,
                        "features": feats,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA]
            )

    return audios.select(path_col, content_col).mapInPandas(
        gen, AUDIO_FEATURE_SCHEMA
    )


def frame_scene_report(
    frames: DataFrame,
    path_col: str = "path",
    frame_col: str = "frame",
    image_col: str = "image",
    threshold: int = 8,
) -> DataFrame:
    """Per-clip perceptual change detection — the shot-boundary /
    keyframe-selection primitive of a video training pipeline, built
    from the same ``ahash64`` fingerprint the image dedup family uses
    (`multimodal/phash.py`): every frame is fingerprinted (narrow JVM
    map), then ONE clip-keyed window compares each frame's hash to
    its predecessor's via the exact Hamming distance. A frame opens a
    new scene when it is the clip's first frame or its distance to
    the previous frame exceeds ``threshold`` (aHash is invariant to
    uniform brightness drift, so exposure flicker does not trigger
    cuts; content changes do).

    Output: the input keys + ``hamming_prev`` (NULL for each clip's
    first frame) + ``is_scene_change``. Change-point semantics are
    per ADJACENT frame (window-expressible, one shuffle on the clip
    key) — not greedy distance-to-last-keyframe, which is inherently
    sequential; downstream samplers keep ``is_scene_change`` frames
    as keyframes. Scale: fingerprint is per-row; the only shuffle is
    the clip-keyed window, and a clip's frame count bounds each
    partition's state.

    Zero-length frames (decoder glitches) are EXCLUDED before the lag
    window, not fingerprinted: an empty raster hashes to NULL bands
    (the ``ahash64`` contract), which would make ``hamming_prev``
    NULL for the glitch AND its successor — two injected cuts per
    glitch. Dropping them keeps the ``hamming_prev IS NULL <=>
    clip's first frame`` contract exact and compares each real frame
    against the previous REAL frame across the glitch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_lake_project_spark.multimodal.phash import (
        _BAND_COLS,
        ahash64,
        hamming64,
    )

    fp = ahash64(
        frames.filter(F.length(F.col(image_col)) > 0),
        image_col=image_col,
    )
    w = Window.partitionBy(path_col).orderBy(frame_col)
    for c in _BAND_COLS:
        fp = fp.withColumn(f"__prev_{c}", F.lag(c).over(w))
    out = fp.withColumn(
        "hamming_prev", hamming64("", "__prev_")
    ).withColumn(
        "is_scene_change",
        F.col("hamming_prev").isNull()
        | (F.col("hamming_prev") > threshold),
    )
    return out.drop(*[f"__prev_{c}" for c in _BAND_COLS])
