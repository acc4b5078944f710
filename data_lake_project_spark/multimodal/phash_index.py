"""Persisted perceptual-fingerprint index: the image ingest gate.

``phash.phash_neardup`` finds near-duplicates WITHIN a frame; a real
multimodal pipeline also needs the other shape — gate each ingested
image batch against the standing corpus WITHOUT refingerprinting the
corpus (the ``operators/dedup_index.py`` argument applied to the
image lane: at 100 TB the corpus-side pass is the dominant cost, so
fingerprint once, persist, fold each batch in as an O(delta) append).

The index is ONE narrow parquet table — ``codes`` (id, pband0..3,
~40 bytes/row whatever the image size) — plus a params JSON (written
last: a reader that sees params sees the table). Because a
fingerprint is a pure per-row function of the raster bytes, the
incremental fold is trivially EXACT (fold == rebuild is row-set
equality, CI-pinned), and erasure is a plain anti-join rewrite —
every lifecycle leg the heavier indexes earn with proofs, this one
gets by construction.

Serving: band-join the batch fingerprints against the stored codes
(4x16-bit bands — exact recall for Hamming <= 3, the
``phash.phash_neardup`` pigeonhole) with every band row carrying its
full fingerprint, so ``bit_count(xor)`` verifies INLINE in the band
join and the only dedupe is one output-sized ``distinct`` (the
round-13 ``phash_neardup`` shape). Join cost scales with the batch
band count, never the corpus.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_project_spark import fs
from data_lake_project_spark.multimodal.phash import (
    N_BANDS,
    _BAND_COLS,
    ahash64,
    band_rows,
    hamming64,
    phash_neardup,
)
from data_lake_project_spark.streaming.pipeline import GateLane, commit_batch

_PARAMS = "params.json"


@dataclass
class PhashIndex:
    """A loaded fingerprint index: params + the codes frame."""

    params: dict
    codes: DataFrame


def build_phash_index(
    images: DataFrame, image_col: str = "image", id_col: str = "doc_id"
) -> PhashIndex:
    """Fingerprint a corpus into the narrow codes frame (lazy). Empty
    rasters are excluded — they carry no brightness signal and must
    not match each other (the ``ahash64`` NULL contract). The
    exclusion filters the INPUT (``length > 0`` — exactly the NULL
    condition), never the band columns: a ``pband0 IS NOT NULL``
    filter gets predicate-pushed below the hash's Project, inlining
    the hex buffer into the filter tree 64x per row (measured 80x
    slower at sf0.1)."""
    codes = ahash64(
        images.filter(F.length(F.col(image_col)) > 0),
        image_col=image_col,
    ).select(id_col, *_BAND_COLS)
    return PhashIndex({"id_col": id_col}, codes)


def save_phash_index(index: PhashIndex, path: str) -> None:
    p = path.rstrip("/")
    index.codes.write.mode("overwrite").parquet(f"{p}/codes")
    fs.write_text(
        index.codes.sparkSession,
        f"{p}/{_PARAMS}",
        json.dumps(index.params),
    )


def load_phash_index(spark: SparkSession, path: str) -> PhashIndex:
    p = path.rstrip("/")
    params = json.loads(fs.read_text(spark, f"{p}/{_PARAMS}"))
    return PhashIndex(params, spark.read.parquet(f"{p}/codes"))


def phash_index_apply(
    spark: SparkSession,
    path: str,
    new_images: DataFrame,
    image_col: str = "image",
    assume_new_ids: bool = False,
) -> PhashIndex:
    """The O(delta) maintenance fold: fingerprint ONLY the new images
    and append — the corpus is never rescanned. Same replay guard as
    ``dedup_index_apply``: by default the delta anti-joins the stored
    id set so an overlapping batch folds in as a no-op instead of
    doubling an id's band rows; a pre-gated high-frequency ingest
    passes ``assume_new_ids=True`` to stay strictly O(delta)."""
    idx = load_phash_index(spark, path)
    codes = build_phash_index(
        new_images, image_col=image_col, id_col=idx.params["id_col"]
    ).codes
    if assume_new_ids:
        codes.write.mode("append").parquet(f"{path.rstrip('/')}/codes")
    else:
        _fold_codes(idx, path, codes)
    return load_phash_index(spark, path)


def _fold_codes(idx: PhashIndex, path: str, codes: DataFrame) -> None:
    """Append ``codes`` to the index at ``path`` (loaded as ``idx``),
    skipping ids it already stores — a replayed fold is a no-op."""
    id_col = idx.params["id_col"]
    codes.join(idx.codes.select(id_col), id_col, "left_anti").write.mode(
        "append"
    ).parquet(f"{path.rstrip('/')}/codes")


def erase_phash_index(
    spark: SparkSession, path: str, ids: DataFrame
) -> int:
    """Right-to-be-forgotten for the fingerprint lane: codes is one
    row per id, so erasure is the plain anti-join rewrite (returns
    distinct ids erased — the uniform ``erase_*`` unit). Post-erase
    state trivially equals never-ingested: fingerprints are per-row,
    no cross-record statistics exist to rebuild."""
    from data_lake_project_spark.operators.erasure import _erase_rows

    p = path.rstrip("/")
    params = json.loads(fs.read_text(spark, f"{p}/{_PARAMS}"))
    return _erase_rows(spark, f"{p}/codes", params["id_col"], ids)


def phash_index_matches(
    index: PhashIndex,
    batch: DataFrame,
    image_col: str = "image",
    max_hamming: int = 3,
    batch_codes: DataFrame | None = None,
) -> DataFrame:
    """Every (batch id, stored id, hamming) pair within
    ``max_hamming`` — the audit view of the gate (who matched whom).
    The batch is fingerprinted inline (it is the delta — small by
    contract); the corpus side is the prebuilt codes. Exactness: same
    4-band pigeonhole as ``phash_neardup``, same threshold guard.

    ``batch_codes``: a caller that already fingerprinted the batch
    (the gate-and-fold loop reuses one pass for the collision guard,
    the self-dedup join AND this gate) passes the codes frame to skip
    the re-fingerprint; it must be the ``build_phash_index`` output
    for exactly the rows of ``batch``.

    Output: (id, dup_of, hamming) where ``id`` is the batch id column
    name from the index params."""
    if max_hamming > N_BANDS - 1:
        raise ValueError(
            f"phash_index_matches: max_hamming={max_hamming} breaks "
            f"the {N_BANDS}-band exactness guarantee (recall 1 only "
            f"for max_hamming <= {N_BANDS - 1})"
        )
    id_col = index.params["id_col"]
    bfp = (
        build_phash_index(batch, image_col=image_col, id_col=id_col)
        .codes.localCheckpoint(eager=True)
        if batch_codes is None
        else batch_codes
    )
    return (
        band_rows(bfp, id_col, "__bid", "a_")
        .join(
            band_rows(index.codes, id_col, "__cid", "b_"), ["band", "val"]
        )
        .withColumn("hamming", hamming64("a_", "b_"))
        .filter(F.col("hamming") <= max_hamming)
        # output-sized dedupe: a pair arrives once per matching band
        .select(
            F.col("__bid").alias(id_col),
            F.col("__cid").alias("dup_of"),
            "hamming",
        )
        .distinct()
    )


def gate_against_phash_index(
    index: PhashIndex,
    batch: DataFrame,
    image_col: str = "image",
    max_hamming: int = 3,
    batch_codes: DataFrame | None = None,
) -> DataFrame:
    """The ingest gate: batch rows that are NOT perceptual duplicates
    of any indexed image (one anti-join over the match set) — the
    ``dedup_against_index`` shape for the image lane. Rows with empty
    rasters pass through (nothing to match), mirroring the build-side
    exclusion. ``batch_codes``: precomputed batch fingerprints (see
    ``phash_index_matches``)."""
    dup = (
        phash_index_matches(
            index, batch, image_col, max_hamming, batch_codes=batch_codes
        )
        .select(index.params["id_col"])
        .distinct()
    )
    return batch.join(dup, index.params["id_col"], "left_anti")


def _phash_lane(
    spark: SparkSession, index_path: str, image_col: str, max_hamming: int
) -> GateLane:
    """The image lane of the gate-and-fold protocol, over the index
    state at ``index_path``. One fingerprint pass over the batch
    (``fp``, cut by the protocol) serves the collision guard, the
    intra-batch self-join, the index gate and the fold."""
    idx = load_phash_index(spark, index_path)
    id_col = idx.params["id_col"]

    def gate(batch: DataFrame, fp: DataFrame) -> DataFrame:
        # keep-lowest-id: the larger-id end of every in-batch pair is
        # doomed. One anti-join against it keeps every non-doomed row —
        # fingerprinted survivors AND empty/NULL rasters (which never
        # fingerprint, so never appear in a pair) — with no
        # special-case passthrough union
        drop = (
            phash_neardup(fp, id_col=id_col, max_hamming=max_hamming)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        batch = batch.join(drop, id_col, "left_anti")
        prior = PhashIndex(
            idx.params,
            idx.codes.join(batch.select(id_col), id_col, "left_anti"),
        )
        return gate_against_phash_index(
            prior,
            batch,
            image_col,
            max_hamming,
            batch_codes=fp.join(drop, id_col, "left_anti"),
        )

    def fold(survivors: DataFrame, fp: DataFrame) -> None:
        # the fold reuses the same fingerprint pass, kept to survivor
        # ids (which already exclude the doomed ones): empty/NULL-raster
        # passthrough rows never fingerprint, exactly matching what
        # rehashing the survivors would produce
        _fold_codes(
            idx,
            index_path,
            fp.join(survivors.select(id_col), id_col, "left_semi"),
        )

    return GateLane(
        id_col=id_col,
        fingerprint=lambda batch: build_phash_index(
            batch, image_col=image_col, id_col=id_col
        ).codes,
        # stored codes always carry a fingerprint
        stored=idx.codes.select(
            id_col, *[F.col(c).alias(f"s_{c}") for c in _BAND_COLS]
        ),
        differs=" OR ".join(f"{c} <> s_{c}" for c in _BAND_COLS),
        gate=gate,
        fold=fold,
        caller="gate_and_fold_batch",
        fingerprint_name="fingerprint",
        payload_name="bytes",
    )


def gate_and_fold_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_dir: str,
    image_col: str = "image",
    max_hamming: int = 3,
) -> None:
    """One micro-batch of the image ingest-AND-fold loop, through the
    exactly-once protocol of ``streaming.pipeline.commit_batch``: drop
    the batch's OWN intra-batch near-duplicates (keep-lowest-id), gate
    the survivors against the CURRENT index state minus the batch's
    own ids, land them in the batch's sink directory, fold them into
    the index, then mark the batch committed. Module-level so the
    replay window can be pinned directly in tests; stream it with
    ``write_idempotent_foreach_batch(lane=functools.partial(
    gate_and_fold_batch, index_path=...))``.

    Intra-batch dedup: a real crawl burst delivers an original AND its
    perceptual twin inside ONE micro-batch — neither is in the prior
    index, so an index-only gate admits and folds both. The batch is
    therefore self-deduplicated FIRST (``phash_neardup`` band
    self-join over the batch fingerprints only — batch-sized — then
    one anti-join against the doomed larger-id pair ends: every row
    with a near-dup of smaller id drops, matching the
    oracle-expressible "no smaller-id in-batch match" predicate, and
    rows that never fingerprint — empty OR NULL rasters — pass
    through untouched because they cannot appear in the pair set).
    Deterministic across replays because the rule depends only on ids
    and fingerprints.

    Id contract: ``doc_id`` is a stable replay key — a replayed batch
    carries the SAME (id, bytes) rows. A batch id already stored with
    a DIFFERENT fingerprint, or arriving as an empty/NULL raster while
    stored with one, is an id collision, not a replay, and raises.
    The fold replays as a no-op through ``_fold_codes``' stored-id
    anti-join guard.
    """
    commit_batch(
        batch,
        batch_id,
        out_dir,
        lambda spark: _phash_lane(spark, index_path, image_col, max_hamming),
    )
