"""Materialized, incrementally-maintained dedup index for a standing
corpus.

``dedup.dedup_against`` recomputes the corpus's minhash band keys and
shingle sets on every batch — correct, but at 100 TB the corpus-side
index pass IS the dominant cost, and a real incremental pipeline
computes it once, persists it, and folds each ingested batch in as an
O(delta) append (the same argument as ``operators.ann_index``: train/
index once, serve many).

The index is two corpus-keyed parquet tables plus a tiny JSON params
document:

- ``bands``  (id, band, bandsig) — the LSH candidate-join side;
- ``sets``   (id, sh)            — the shingle sets the verify stage
  joins back by id (candidates only, never the whole corpus).

Lifecycle:

- :func:`build_dedup_index`   — one corpus pass (lazy frames);
- :func:`save_dedup_index` / :func:`load_dedup_index` — persistence
  through the URI-agnostic ``fs`` layer (HDFS/S3/local);
- :func:`dedup_index_apply`   — the O(delta) maintenance fold: index
  ONLY the new docs and append — the corpus is never rescanned or
  reshuffled (incremental ≡ recompute is CI-pinned);
- :func:`dedup_against_index` — the serving path: gate a batch against
  the standing index; composition-equal to ``dedup_against`` (which is
  now literally build + search).

Reference parity: extends the reference's ingest gate
(``spark_stream.py`` upsert-on-key) to content-level near-dup
gating; part of the LLM-pipeline surface (SURVEY.md §2.9, q102).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_project_spark import fs
from data_lake_project_spark.operators.dedup import (
    band_keys,
    minhash_sets,
    shingle_sets,
)
from data_lake_project_spark.streaming.pipeline import GateLane, commit_batch


@dataclass
class DedupIndex:
    """A built dedup index: params + the two corpus-keyed frames."""

    params: dict
    bands: DataFrame
    sets: DataFrame


def build_dedup_index(
    corpus: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DedupIndex:
    """Index a corpus in ONE pass: shingle sets → minhash signatures →
    band keys. Deterministic (md5-seeded minhash, no RNG): the same
    corpus always produces the same index, which is what makes the
    incremental fold ≡ full recompute."""
    sets = shingle_sets(corpus, text_col, id_col, k)
    bands = band_keys(
        minhash_sets(sets, id_col, num_hashes), id_col, band_size
    )
    return DedupIndex(
        {
            "k": k,
            "num_hashes": num_hashes,
            "band_size": band_size,
            "text_col": text_col,
            "id_col": id_col,
        },
        bands.select(id_col, "band", "bandsig"),
        sets.select(id_col, "sh"),
    )


def extend_dedup_index(index: DedupIndex, new_docs: DataFrame) -> DedupIndex:
    """In-memory O(delta) fold: index ONLY ``new_docs`` (with the
    stored params) and union — the standing frames are reused as-is,
    never recomputed. For the persisted twin see
    :func:`dedup_index_apply`."""
    p = index.params
    delta = build_dedup_index(
        new_docs,
        k=p["k"],
        num_hashes=p["num_hashes"],
        band_size=p["band_size"],
        text_col=p["text_col"],
        id_col=p["id_col"],
    )
    return DedupIndex(
        dict(p),
        index.bands.unionByName(delta.bands),
        index.sets.unionByName(delta.sets),
    )


def save_dedup_index(index: DedupIndex, path: str) -> None:
    """Persist bands + sets as parquet and params as one small JSON
    (written last, so a reader that sees params sees the tables)."""
    path = path.rstrip("/")
    index.bands.write.mode("overwrite").parquet(f"{path}/bands")
    index.sets.write.mode("overwrite").parquet(f"{path}/sets")
    spark = index.bands.sparkSession
    fs.write_text(spark, f"{path}/params.json", json.dumps(index.params))


def load_dedup_index(spark: SparkSession, path: str) -> DedupIndex:
    path = path.rstrip("/")
    params = json.loads(fs.read_text(spark, f"{path}/params.json"))
    return DedupIndex(
        params,
        spark.read.parquet(f"{path}/bands"),
        spark.read.parquet(f"{path}/sets"),
    )


def dedup_index_apply(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    assume_new_ids: bool = False,
) -> DedupIndex:
    """Persisted maintenance fold: index ONLY ``new_docs`` and APPEND
    to the stored band/set tables — the standing corpus's CONTENT is
    never recomputed or reshuffled (parquet append writes new files
    next to the old ones). Returns the reloaded index.

    By default the delta is anti-joined against the stored id set
    first, so a replayed/overlapping batch folds in as a no-op instead
    of silently doubling an id's rows (which would inflate every
    future candidate set). The stored ids come from ``sets``, which
    holds one row per folded id — an empty doc has a ``sets`` row but
    no ``bands`` rows. The guard is one column-pruned scan +
    distinct of the stored id column — O(index ids), not O(delta) —
    the right correctness default, but it grows with the standing
    index. High-frequency folds that already gated the batch (q102's
    :func:`dedup_against_index` + anti-join ingest shape) should pass
    ``assume_new_ids=True`` to keep the fold strictly O(delta)."""
    path = path.rstrip("/")
    params = json.loads(fs.read_text(spark, f"{path}/params.json"))
    if not assume_new_ids:
        existing = (
            spark.read.parquet(f"{path}/sets")
            .select(params["id_col"])
            .distinct()
        )
        new_docs = new_docs.join(existing, params["id_col"], "left_anti")
    delta = build_dedup_index(
        new_docs,
        k=params["k"],
        num_hashes=params["num_hashes"],
        band_size=params["band_size"],
        text_col=params["text_col"],
        id_col=params["id_col"],
    )
    delta.bands.write.mode("append").parquet(f"{path}/bands")
    delta.sets.write.mode("append").parquet(f"{path}/sets")
    return load_dedup_index(spark, path)


def dedup_against_index(
    index: DedupIndex,
    batch: DataFrame,
    threshold: float = 0.5,
    self_dedup: bool = False,
    b_sets: DataFrame | None = None,
) -> DataFrame:
    """Serve an ingest batch against the standing index: keep only the
    batch docs that are NOT near-duplicates (exact shingle Jaccard >=
    ``threshold``) of any indexed doc. The batch side is indexed
    inline (it is the delta — small by contract); the corpus side is
    the PREBUILT band/set tables, so join cost scales with the batch
    band count and the candidates' set fetches, exactly the
    ``dedup_against`` plan minus the corpus re-index.

    Intra-batch contract: by default the batch is assumed ALREADY
    self-deduplicated — a batch carrying both an original and its
    near-dup twin admits BOTH (neither matches the index). A crawl
    burst delivers exactly that, so an ingest-loop caller passes
    ``self_dedup=True``: a batch-LOCAL band self-join + verified
    Jaccard with the keep-lowest-id rule (a row with a matching
    SMALLER id in the same batch drops) runs BEFORE the index gate.
    Batch-sized work on both legs (the corpus is still touched only by
    the candidate fetch); deterministic across replays because the
    rule depends only on ids and shingle sets.

    ``b_sets``: optional precomputed (ideally eagerly checkpointed)
    shingle sets for EXACTLY ``batch`` under the index params. The
    shingle explode is referenced several times in this plan (self
    pair verify, index pair verify, banding) and Spark re-evaluates
    the subtree per reference; a caller that already materialized the
    sets (the streaming loop computes them for its collision guard)
    passes them here so every reference reads materialized rows.
    Pure per-row function of the text, so the result is unchanged.
    NOTE (r14, measured): reuse is only a win when it adds NO new
    action or join — an eagerly-checkpointed band-key frame plus a
    delta-reuse fold was tried and REGRESSED q201 9.0→13.6 s at
    sf0.01 (the added checkpoint + non-broadcast joins cost more than
    the re-derived minhash on a batch-sized frame).
    """
    p = index.params
    id_col = p["id_col"]
    if b_sets is None:
        b_sets = shingle_sets(batch, p["text_col"], id_col, p["k"])
    bkeys = None
    if self_dedup:
        bsig = minhash_sets(b_sets, id_col, p["num_hashes"])
        bkeys = band_keys(bsig, id_col, p["band_size"])
        ba = bkeys.select(
            F.col(id_col).alias("__ia"), "band", "bandsig"
        )
        bb2 = bkeys.select(
            F.col(id_col).alias("__ib"), "band", "bandsig"
        )
        scand = (
            ba.join(bb2, ["band", "bandsig"])
            .filter(F.col("__ia") < F.col("__ib"))
            .select("__ia", "__ib")
            .distinct()
        )
        sa = b_sets.select(
            F.col(id_col).alias("__ia"), F.col("sh").alias("__sa")
        )
        sb = b_sets.select(
            F.col(id_col).alias("__ib"), F.col("sh").alias("__sb")
        )
        sinter = F.size(F.array_intersect("__sa", "__sb"))
        doomed = (
            scand.join(sa, "__ia")
            .join(sb, "__ib")
            .withColumn(
                "__j",
                sinter
                / (F.size("__sa") + F.size("__sb") - sinter).cast(
                    "double"
                ),
            )
            .filter(F.col("__j") >= threshold)
            .select(F.col("__ib").alias(id_col))
            .distinct()
        )
        batch = batch.join(doomed, id_col, "left_anti")
        b_sets = b_sets.join(doomed, id_col, "left_anti")
        # the signature/banding work already ran for the self-join —
        # the index gate reuses it minus the doomed rows instead of
        # re-deriving minhash+bands over the reduced b_sets
        bkeys = bkeys.join(doomed, id_col, "left_anti")
    if bkeys is None:
        bkeys = band_keys(
            minhash_sets(b_sets, id_col, p["num_hashes"]),
            id_col,
            p["band_size"],
        )
    bb = bkeys.select(F.col(id_col).alias("__bid"), "band", "bandsig")
    cb = index.bands.select(
        F.col(id_col).alias("__cid"), "band", "bandsig"
    )
    cand = (
        bb.join(cb, ["band", "bandsig"]).select("__bid", "__cid").distinct()
    )
    x = b_sets.select(
        F.col(id_col).alias("__bid"), F.col("sh").alias("__bsh")
    )
    y = index.sets.select(
        F.col(id_col).alias("__cid"), F.col("sh").alias("__csh")
    )
    inter = F.size(F.array_intersect("__bsh", "__csh"))
    dup = (
        cand.join(x, "__bid")
        .join(y, "__cid")
        .withColumn(
            "__j",
            inter
            / (F.size("__bsh") + F.size("__csh") - inter).cast("double"),
        )
        .filter(F.col("__j") >= threshold)
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return batch.join(dup, id_col, "left_anti")


def _text_lane(
    spark: SparkSession, index_path: str, threshold: float
) -> GateLane:
    """The text lane of the gate-and-fold protocol, over the index
    state at ``index_path``. The batch's shingle sets (cut by the
    protocol) serve the collision guard and every reference inside the
    gate; an empty or NULL text has a NULL set, so it carries no
    fingerprint."""
    idx = load_dedup_index(spark, index_path)
    p = idx.params
    id_col = p["id_col"]

    def gate(batch: DataFrame, bsets: DataFrame) -> DataFrame:
        own = batch.select(id_col)
        prior = DedupIndex(
            dict(p),
            idx.bands.join(own, id_col, "left_anti"),
            idx.sets.join(own, id_col, "left_anti"),
        )
        return dedup_against_index(
            prior, batch, threshold, self_dedup=True, b_sets=bsets
        )

    # set equality via two containment sizes
    inter = F.size(F.array_intersect("sh", "s_sh"))
    return GateLane(
        id_col=id_col,
        fingerprint=lambda batch: shingle_sets(
            batch, p["text_col"], id_col, p["k"]
        ),
        fingerprinted=F.col("sh").isNotNull(),
        stored=idx.sets.filter(F.col("sh").isNotNull()).select(
            id_col, F.col("sh").alias("s_sh")
        ),
        differs=(inter < F.size("sh")) | (inter < F.size("s_sh")),
        gate=gate,
        fold=lambda survivors, bsets: dedup_index_apply(
            spark, index_path, survivors
        ),
        caller="gate_and_fold_text_batch",
        fingerprint_name="shingle set",
        payload_name="text",
    )


def gate_and_fold_text_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_dir: str,
    threshold: float = 0.5,
) -> None:
    """One micro-batch of the TEXT ingest-AND-fold loop — the image
    lane's protocol (``streaming.pipeline.commit_batch``) on the
    shingle/minhash lane (text crawl is the highest-volume ingest a
    training-data pipeline runs; the reference's at-least-once
    delivery, ``spark_stream.py:217-224``, is exactly the window this
    closes): self-dedup the batch (keep-lowest-id,
    ``dedup_against_index(self_dedup=True)``), gate the survivors
    against the CURRENT index state minus the batch's own ids (one
    anti-join per stored table), land them in the batch's sink
    directory, fold them into the index, mark the batch committed.
    Stream it with ``write_idempotent_foreach_batch(
    lane=functools.partial(gate_and_fold_text_batch, index_path=...))``.

    Id contract: ids are stable replay keys (same id => same text). A
    batch id already stored with a DIFFERENT shingle set, or arriving
    with an empty/NULL text while stored with a non-empty one, is an
    id collision and raises. The check joins stored sets on the batch
    ids only (batch-sized fetch). The fold replays as a no-op through
    ``dedup_index_apply``'s stored-id guard.

    Per-batch work is batch-sized: the batch is shingled/banded once
    (``self_dedup=True`` reuses the band keys for the index gate),
    the corpus is touched only by the candidate band join + the
    candidates' set fetches, and the fold appends without rescanning.
    """
    commit_batch(
        batch,
        batch_id,
        out_dir,
        lambda spark: _text_lane(spark, index_path, threshold),
    )
