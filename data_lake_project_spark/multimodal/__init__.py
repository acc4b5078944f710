"""Multimodal columns (north star): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
pandas UDFs.

Reference analogue: the PDF-bytes → page-images → OCR flow
(``dags/get_data/ocr.py:26-77``, ``GetData.py:46-63``). The heavy
decode libraries (poppler, paddle, torch) are NOT present in this
environment, so the decode step is a pluggable interface with a
deterministic fake for tests (SURVEY.md §7.3 risk 2) — the
Spark-side plumbing (schema, partitioning, UDF signature, Arrow batch
shape) is real and tested.

Scale notes: ``binaryFile`` ingest is driven by
``spark.sql.files.maxPartitionBytes``; page explosion happens
executor-side (never collect blobs to the driver); per-executor model
singletons load once per process, not per batch.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

PAGE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("page", IntegerType()),
        StructField("image", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


# --------------------------------------------------------------------------
# Pluggable decoders (real impls are optional extras; fakes are
# deterministic so tests and oracles are stable)
# --------------------------------------------------------------------------


def fake_rasterize(content: bytes, dpi: int = 300) -> list[tuple[bytes, int, int]]:
    """Deterministic stand-in for pdf2image ``convert_from_bytes``
    (``ocr.py:26-36``): page count derives from the blob hash, pixels
    from the page index. Returns [(jpeg_bytes, width, height)].
    """
    h = hashlib.md5(content).digest()
    n_pages = 1 + h[0] % 4
    w, hgt = 100 + h[1] % 50, 140 + h[2] % 50
    return [
        (hashlib.md5(content + struct.pack("<i", p)).digest() * 4, w, hgt)
        for p in range(n_pages)
    ]


def explode_pages(
    docs: DataFrame,
    rasterize: Callable[[bytes], list[tuple[bytes, int, int]]] = fake_rasterize,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """S12: PDF bytes → one row per page image, executor-side.

    ``mapInPandas`` streams Arrow batches; each input blob yields
    multiple output rows (UDTF shape), so memory is bounded by batch
    size x max page count, never by document count.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for i, (img, w, h) in enumerate(rasterize(r[content_col])):
                    rows.append(
                        {
                            "path": r[path_col],
                            "page": i + 1,
                            "image": img,
                            "width": w,
                            "height": h,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["path", "page", "image", "width", "height"]
            )

    return docs.select(path_col, content_col).mapInPandas(gen, PAGE_SCHEMA)


# --------------------------------------------------------------------------
# Page preprocessing (reference ``ocr.py:42-44`` inversion gate +
# ``:91-99`` enhance chain, ``graphData.py:132-142`` figure resize)
# --------------------------------------------------------------------------

PREPROCESSED_PAGE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("page", IntegerType()),
        StructField("image", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("inverted", StringType()),
    ]
)


def fake_invert(image: bytes) -> bytes:
    """Deterministic stand-in for ``cv2.bitwise_not`` (``ocr.py:43``):
    complements every byte — an involution, like the real inversion."""
    return bytes(255 - b for b in image)


def fake_enhance(image: bytes) -> bytes:
    """Deterministic stand-in for the reference's enhance chain
    (``ocr.py:91-99``: Gaussian blur → adaptive threshold → Otsu →
    sharpen). XORs a marker nibble so tests can prove the stage ran
    while staying a pure, invertible byte transform."""
    return bytes(b ^ 0x0F for b in image)


def preprocess_pages(
    pages: DataFrame,
    threshold: float = 100.0,
    patch: int = 16,
    invert: Callable[[bytes], bytes] = fake_invert,
    enhance: Callable[[bytes], bytes] = fake_enhance,
) -> DataFrame:
    """The reference's pre-OCR conditioning (``ocr.py:42-44``): pages
    with a dark background (mean of 4 corner patches < threshold) are
    inverted, then every page runs the enhance chain. Emits the page
    rows with transformed bytes plus an ``inverted`` flag, so bright
    and dark pages demonstrably take different paths.

    Same stand-in convention as ``tables.corner_brightness``: with no
    image codecs in the container, the encoded bytes are the raster;
    the Spark-side contract (Arrow-batched mapInPandas, per-page
    scalar gate, pluggable transforms) is the real thing.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                buf = r["image"]
                corners = [
                    buf[:patch],
                    buf[-patch:],
                    buf[patch : 2 * patch],
                    buf[-2 * patch : -patch],
                ]
                mean = sum(sum(c) / max(len(c), 1) for c in corners) / 4.0
                dark = mean < threshold
                img = invert(buf) if dark else buf
                rows.append(
                    {
                        "path": r["path"],
                        "page": r["page"],
                        "image": enhance(img),
                        "width": r["width"],
                        "height": r["height"],
                        "inverted": "true" if dark else "false",
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PREPROCESSED_PAGE_SCHEMA]
            )

    return pages.mapInPandas(gen, PREPROCESSED_PAGE_SCHEMA)


def fake_resize(
    image: bytes, width: int, height: int, new_width: int, new_height: int
) -> bytes:
    """Deterministic stand-in for ``cv2.resize``: scales the byte
    count by the area ratio (cycling the source bytes), so downstream
    stages see a genuinely smaller payload."""
    n = max(1, int(len(image) * (new_width * new_height) / max(width * height, 1)))
    reps = n // max(len(image), 1) + 1
    return (image * reps)[:n]


def resize_figures(
    figures: DataFrame,
    scale_width: float = 0.4,
    scale_height: float = 0.5,
    resize: Callable[[bytes, int, int, int, int], bytes] = fake_resize,
) -> DataFrame:
    """The reference's econ-report figure shrink before chart parsing
    (``graphData.py:132-142``: width x0.4, height x0.5). Runs on any
    (path, page, image, width, height) frame; emits the same shape
    with scaled dimensions and resized bytes.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                nw = int(r["width"] * scale_width)
                nh = int(r["height"] * scale_height)
                rows.append(
                    {
                        "path": r["path"],
                        "page": r["page"],
                        "image": resize(r["image"], r["width"], r["height"], nw, nh),
                        "width": nw,
                        "height": nh,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in PAGE_SCHEMA])

    return figures.select(
        "path", "page", "image", "width", "height"
    ).mapInPandas(gen, PAGE_SCHEMA)


OCR_LINE_TYPE = ArrayType(
    StructType(
        [
            StructField("x1", IntegerType()),
            StructField("y1", IntegerType()),
            StructField("x2", IntegerType()),
            StructField("y2", IntegerType()),
            StructField("text", StringType()),
        ]
    )
)


def fake_ocr_lines(image: bytes, width: int, height: int):
    """Deterministic stand-in for the PaddleOCR line model
    (``ocr.py:38-55``): synthesizes a small grid of lines from the
    image hash. Box layout mimics a k x m table so the grid
    reconstruction operator has non-trivial input."""
    h = hashlib.md5(image).digest()
    n_rows, n_cols = 2 + h[0] % 3, 2 + h[1] % 3
    lines = []
    for r in range(n_rows):
        for c in range(n_cols):
            x1 = int(c * width / n_cols) + 2
            y1 = int(r * height / n_rows) + 2
            x2 = int((c + 1) * width / n_cols) - 2
            y2 = int((r + 1) * height / n_rows) - 2
            lines.append((x1, y1, x2, y2, f"cell_{r}_{c}_{h[2] % 10}"))
    return lines


def ocr_pages(
    pages: DataFrame,
    ocr: Callable[[bytes, int, int], list] = fake_ocr_lines,
) -> DataFrame:
    """OCR each page image into an array of line structs, then a
    long-form lines table via ``inline`` (UDF + explode models the
    reference's UDTF-shaped ``ocr_result``, SURVEY.md §2.8)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["path", "page"]].copy()
            out["lines"] = [
                ocr(img, w, h)
                for img, w, h in zip(pdf["image"], pdf["width"], pdf["height"])
            ]
            yield out

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("page", IntegerType()),
            StructField("lines", OCR_LINE_TYPE),
        ]
    )
    with_lines = pages.mapInPandas(gen, schema)
    return with_lines.select(
        "path", "page", F.inline("lines")
    )
