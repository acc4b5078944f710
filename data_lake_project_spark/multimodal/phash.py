"""Perceptual fingerprints over binary image/frame columns +
Hamming-banded near-duplicate detection — the image-dedup stage every
multimodal training-data pipeline runs between decode and training
(the reference's page rasters, ``ocr.py:26-36``, and cropped table /
figure images, ``tableExtract.py:263-265``, are exactly the columns
this gates).

The fingerprint is a 64-bit average-hash (aHash): the raster byte
buffer is downsampled to 64 evenly-spaced samples (the 8x8 thumbnail
of the classic algorithm, under this package's no-codec convention
that the encoded bytes ARE the raster — ``preprocess_pages``
docstring), and bit j is set when sample j is brighter than the mean
of the 64 samples. Two properties make it the right engine primitive:

- **Pure JVM expressions.** Sampling rides ``hex``/``substr``/
  ``conv``, the mean comparison is integer math (``sample*64 >
  total`` — no float, no tie ambiguity between engines), so the whole
  fingerprint is whole-stage-codegen'd and oracle-expressible; zero
  Python in the path.
- **Locality-sensitive.** A small change to the raster flips few
  bits, so near-duplicate images land within a small Hamming
  distance, and the banded self-join below finds them without an
  all-pairs scan.

Near-dup rides the SimHash/MinHash band machinery
(``operators/dedup.py:189,302``): the 64 bits split into 4 bands of
16; by pigeonhole, two fingerprints within Hamming distance <= 3 agree
on at least one whole band, so the band equi-join is EXACT (recall 1)
for ``max_hamming <= 3`` — candidates are verified with the true
Hamming distance (``bit_count(xor)``) and never an all-pairs design.

Scale: the band join shuffles on (band index, band value). A
degenerate corpus (millions of identical blank pages) concentrates
one band value; that is real duplication the pipeline WANTS to find,
but the hot bucket pairs quadratically — gate such corpora with exact
dedup (hash of the raw bytes) first, exactly as the text lane orders
exact-before-MinHash.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BANDS = 4
BAND_BITS = 16
_BAND_COLS = [f"pband{b}" for b in range(N_BANDS)]


def ahash64(
    df: DataFrame, image_col: str = "image", prefix: str = ""
) -> DataFrame:
    """Append the 64-bit average-hash of a binary column: four 16-bit
    band integers ``pband0..pband3`` (bit j of the hash lives in band
    j/16 at position j%16) plus the display rendering ``phash`` — 16
    hex nibbles, bit 63 leftmost (``pband3..pband0``). Empty buffers
    fingerprint as NULL (there is no brightness to compare); callers
    filter them before the near-dup join.

    ``prefix`` namespaces the five output columns (``prefix +
    "pband0"``...) so two fingerprint sets can coexist in one frame.
    """
    out = df
    for name, col in _ahash_stages(image_col, prefix):
        out = out.withColumn(name, col)
    return out.drop("__hex", "__n", "__smp", "__tot")


@functools.cache
def _ahash_stages(image_col: str, prefix: str) -> tuple:
    """The ``ahash64`` columns as ``(name, expression)`` pairs, one
    ``withColumn`` each, built once per process: they are unresolved
    expressions bound to no frame or session, and rebuilding the
    lambda trees costs ~500 py4j round trips per call."""
    # the hex rendering is referenced by all 64 samples — its own
    # multi-referenced Project keeps it single-evaluation
    # (CollapseProject never inlines a multi-referenced non-trivial
    # alias)
    stages = {
        "__hex": F.hex(F.col(image_col)),
        "__n": F.length(F.col(image_col)).cast("long"),
    }
    # sample j reads the byte at floor(j*n/64) (0-based): two hex
    # nibbles starting at 2*floor(j*n/64)+1 in the hex rendering.
    # floor() on the double quotient is exact here (j*n < 2^53 for
    # any real raster), and conv() parses the pair back to 0..255.
    samples = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: F.conv(
            F.substr(
                F.col("__hex"),
                (
                    F.floor(
                        j.cast("long") * F.col("__n") / F.lit(64)
                    )
                    * 2
                    + 1
                ).cast("int"),
                F.lit(2),
            ),
            16,
            10,
        ).cast("long"),
    )
    stages["__smp"] = F.when(F.col("__n") > 0, samples)
    stages["__tot"] = F.aggregate(
        "__smp", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    def _band_fold(b):
        # a closure factory, NOT a default arg on the lambda: pyspark
        # derives the SQL lambda's arity from the Python signature, so
        # a bound default would turn this into a 3-arg lambda
        def fold(acc, i):
            return acc + F.when(
                F.element_at(
                    "__smp", (i + F.lit(BAND_BITS * b + 1)).cast("int")
                )
                * 64
                > F.col("__tot"),
                # 2^i exact in double for i <= 15
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        return fold

    for b in range(N_BANDS):
        band = F.aggregate(
            F.sequence(F.lit(0), F.lit(BAND_BITS - 1)),
            F.lit(0).cast("long"),
            _band_fold(b),
        )
        # an empty buffer must fingerprint as NULL, not as band 0 (a
        # genuinely uniform raster hashes to 0 — the two must not
        # collide)
        stages[f"{prefix}pband{b}"] = F.when(
            F.col("__tot").isNotNull(), band
        )
    stages[f"{prefix}phash"] = F.concat(
        *[
            F.lpad(F.lower(F.hex(F.col(f"{prefix}pband{b}"))), 4, "0")
            for b in reversed(range(N_BANDS))
        ]
    )
    return tuple(stages.items())


@functools.cache
def hamming64(a_prefix: str, b_prefix: str):
    """Column expression: the Hamming distance between two banded
    fingerprints carried in one row under ``{a_prefix}pband{b}`` /
    ``{b_prefix}pband{b}`` columns (built once per prefix pair)."""
    parts = [
        F.bit_count(
            F.col(f"{a_prefix}pband{b}").bitwiseXOR(
                F.col(f"{b_prefix}pband{b}")
            )
        )
        for b in range(N_BANDS)
    ]
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return total


def band_rows(
    fps: DataFrame, id_col: str, out_id: str, prefix: str
) -> DataFrame:
    """(``id_col``, pband0..3) -> (``out_id``, ``{prefix}pband0..3``,
    band, val): one row per band, each carrying its FULL fingerprint,
    so a band equi-join verifies Hamming inline — the shape shared by
    ``phash_neardup`` and ``phash_index.phash_index_matches``."""
    explode, flat = _band_select(id_col, out_id, prefix)
    return fps.select(*explode).select(*flat)


@functools.cache
def _band_select(id_col: str, out_id: str, prefix: str) -> tuple:
    """``band_rows``' two select lists, built once per key."""
    fp_cols = [f"{prefix}{c}" for c in _BAND_COLS]
    explode = (
        F.col(id_col).alias(out_id),
        *[F.col(c).alias(n) for c, n in zip(_BAND_COLS, fp_cols)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"pband{b}").alias("val"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    )
    flat = (
        F.col(out_id),
        *[F.col(n) for n in fp_cols],
        F.col("bk.band"),
        F.col("bk.val"),
    )
    return explode, flat


def phash_neardup(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_salts: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs among banded fingerprints (the
    ``ahash64`` output columns): band-join candidates, verify with
    the exact Hamming distance. With 4 bands of 16 bits the banding
    is EXACT (recall 1) for ``max_hamming <= 3`` — two hashes within
    distance 3 cannot differ in all 4 bands; a larger threshold would
    silently turn the join into an approximate candidate generator,
    so it is rejected instead.

    Output: ``(id_a, id_b, hamming)`` with ``id_a < id_b``. NULL
    fingerprints (empty buffers) are dropped — an empty raster is not
    a near-duplicate of anything, including another empty raster.

    ``n_salts``: opt-in skew handling for the module-docstring risk —
    a degenerate corpus (e.g. millions of near-identical form pages)
    concentrating one band value into a straggler partition of the
    band self-join. With salting, one side's rows spread across
    ``n_salts`` shuffle partitions per (band, value) key and the
    other side replicates (``operators/skew.salted_join`` — the
    ``embedding_neardup`` pattern); the pair set is identical (inner
    join, result-parity CI-pinned on a hot-band fixture). The hot
    bucket still pairs quadratically — that is real duplication the
    gate WANTS — salting spreads the work instead of serializing it.

    Plan shape (round-13 rework): each exploded band row CARRIES its
    full fingerprint, so the Hamming verify runs INLINE in the band
    join and the dedupe shuffle moves from candidate-sized to
    OUTPUT-sized. The previous shape (candidate ``distinct`` → two
    fingerprint joins) shuffled the whole candidate set twice more;
    on a low-entropy corpus (sf1-class text-raster fixture: 6.27M
    candidates from 50k docs, 16.7k true pairs — SCALE.md round-13
    density measurement) candidates outnumber verified pairs ~375x,
    and the rework cut q189 from 25.2 s to a fraction (stamped in
    SCALE.md). Verify work rises at most 4x (a pair is re-verified
    once per matching band, integer xor/popcount) — always cheaper
    than shuffling the same rows.
    """
    if max_hamming > N_BANDS - 1:
        raise ValueError(
            f"phash_neardup: max_hamming={max_hamming} breaks the "
            f"{N_BANDS}-band exactness guarantee (recall 1 only for "
            f"max_hamming <= {N_BANDS - 1}); use more bands or a "
            "dedicated multi-probe design for looser thresholds"
        )
    # the narrow (id, 4 bands) projection is exploded once per band
    # with the FULL fingerprint riding along — eagerly cut once (the
    # multi-consumer rule via the salted path, and it keeps the
    # fingerprint expression trees from inlining into the NULL-guard
    # filter: hash computed once per row, not once per consumer)
    f = (
        fps.select(id_col, *_BAND_COLS)
        .localCheckpoint(eager=True)
        .filter(F.col(_BAND_COLS[0]).isNotNull())
    )
    a_side = band_rows(f, id_col, "id_a", "a_")
    b_side = band_rows(f, id_col, "id_b", "b_")
    if n_salts:
        from data_lake_project_spark.operators.skew import salted_join

        joined = salted_join(
            a_side, b_side, ["band", "val"], n_salts=n_salts
        )
    else:
        joined = a_side.join(b_side, ["band", "val"])
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64("a_", "b_"))
        .filter(F.col("hamming") <= max_hamming)
        # output-sized dedupe: the same verified pair arrives once per
        # matching band, always with the identical hamming
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def phash_survivors(
    fps: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The one-pass keep-lowest-id near-dup gate: drop every row that
    has a near-duplicate with a SMALLER id (``pairs`` is the
    ``phash_neardup`` output, so ``id_b`` is always the larger end).
    Over-drops relative to one-representative-per-connected-cluster
    (``dedup.keep_cluster_representatives`` when cluster semantics
    matter) but is a single anti-join over the corpus — the scalable
    ingest-gate shape."""
    doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return fps.join(doomed, id_col, "left_anti")
