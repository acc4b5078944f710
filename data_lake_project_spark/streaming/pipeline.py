"""Streaming ingest pipeline (reference ``spark_stream/spark_stream.py``).

The reference subscribes to a Kafka topic (``:206-211``), casts
key/value to strings (``:213``), and appends micro-batches to
Cassandra via ``foreachBatch`` (``:217-224``) with **no checkpoint and
no idempotence** — duplicate writes on any restart (Appendix B.7).
It also defines, but never wires, the ``from_json`` parse path
(``:159-171``).

This module keeps the same shape with the holes closed:

- the parse path IS the pipeline (``parse_events``), the raw
  key/value stream is the bronze layer;
- every sink is checkpointed;
- ``write_idempotent_foreach_batch`` is the one ``foreachBatch``
  driver, and ``commit_batch`` the one exactly-once protocol behind
  it: committed batch ids are recorded next to the data (the
  parquet-friendly analogue of Delta's ``txnAppId/txnVersion``), and
  the image and text gate-and-fold lanes plug into it as a
  ``GateLane``.

At scale: ``foreachBatch`` bodies run JVM-side DataFrame writes (the
Python callback only *plans*), so the driver-side Python cost per
batch is constant, not per-row.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_lake_project_spark import fs

# Reference schema: four non-null strings (spark_stream.py:160-165).
EVENT_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("order_date", StringType(), False),
        StructField("product_name", StringType(), False),
        StructField("quantity", StringType(), False),
    ]
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The exact reader-option dict the reference pipeline needs
    (``spark_stream.py:206-211``: subscribe + bootstrap servers; plus
    the two knobs any production deployment sets explicitly):

    - ``startingOffsets``: where a FRESH checkpoint begins — after
      that, progress comes from the checkpoint, not this option;
    - ``failOnDataLoss``: ``false`` by default so a topic whose
      retention expired offsets the checkpoint still references
      resumes (with a logged gap) instead of killing the stream —
      flip to ``true`` where a gap must be fatal.

    Factored out of :func:`kafka_source` so the contract is pinned by
    a broker-less test (``test_kafka_reader_options_contract``), the
    same fake-seam pattern as the Delta MERGE test.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka streaming source (S1, ``spark_stream.py:132-144,206-211``).

    Requires the spark-sql-kafka connector on the classpath; in
    connector-less test environments use ``file_stream_source`` with
    the same downstream pipeline (the contract is identical: a
    streaming DataFrame with binary ``key``/``value`` columns).
    """
    return (
        spark.readStream.format("kafka")
        .options(
            **kafka_reader_options(
                bootstrap_servers, topic, starting_offsets, fail_on_data_loss
            )
        )
        .load()
    )


def file_stream_source(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based stand-in for the Kafka transport: JSON-lines files
    of ``{"key": ..., "value": ...}`` become the same (key, value)
    binary-pair stream. Used by the batch↔stream equivalence tests.
    """
    schema = StructType(
        [
            StructField("key", StringType(), True),
            StructField("value", StringType(), True),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
        .select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
    )


def parse_events(raw: DataFrame) -> DataFrame:
    """P1+P2: cast transport bytes to strings, parse JSON, flatten.

    Reference ``spark_stream.py:159-171`` (defined there but never
    wired into main — here it is the real path). Malformed JSON rows
    yield nulls from ``from_json``; they are kept (bronze keeps
    everything) and a silver filter drops them.
    """
    return (
        raw.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
        .select(
            F.col("key"),
            F.from_json(F.col("value"), EVENT_SCHEMA).alias("data"),
        )
        .select("key", "data.*")
    )


def to_silver(parsed: DataFrame) -> DataFrame:
    """Typed silver projection: explicit casts the reference never did
    (SURVEY.md §1.2 mapping — order_date → date, quantity → int)."""
    return parsed.filter(F.col("id").isNotNull()).select(
        "id",
        F.to_date("order_date").alias("order_date"),
        "product_name",
        F.col("quantity").cast("int").alias("quantity"),
    )


@dataclass(frozen=True)
class GateLane:
    """What a gate-and-fold lane supplies to :func:`commit_batch`,
    bound to the index state loaded for one batch.

    - ``fingerprint(batch)``: (``id_col``, fingerprint columns) of the
      batch; the protocol cuts it and hands the cut to the guard, the
      gate and the fold;
    - ``fingerprinted``: the rows of that frame that carry a
      fingerprint (``None``: all of them);
    - ``stored``: (``id_col``, ``s_``-prefixed fingerprint columns) of
      the stored ids that carry a fingerprint;
    - ``differs``: the collision predicate over a batch fingerprint
      joined to its stored one;
    - ``gate(batch, fp)``: the survivors, gated against the index
      minus the batch's own ids;
    - ``fold(survivors, fp)``: append the survivors to the index,
      skipping ids it already stores;
    - ``caller``, ``fingerprint_name``, ``payload_name``: the words of
      the collision error.
    """

    id_col: str
    fingerprint: Callable[[DataFrame], DataFrame]
    stored: DataFrame
    differs: Column | str
    gate: Callable[[DataFrame, DataFrame], DataFrame]
    fold: Callable[[DataFrame, DataFrame], None]
    caller: str
    fingerprint_name: str
    payload_name: str
    fingerprinted: Column | None = None


def _raise_on_id_collision(
    lane: GateLane, batch: DataFrame, fp: DataFrame
) -> None:
    """Raise on a batch id that is not a stable replay key. Leg 1: a
    fingerprinted batch id stored with a DIFFERENT fingerprint. Leg 2:
    a batch id with NO fingerprint (empty or NULL payload) whose id is
    stored with one — same id, different payload, arriving through the
    no-fingerprint passthrough, which would otherwise bypass leg 1."""
    id_col = lane.id_col
    if lane.fingerprinted is not None:
        fp = fp.filter(lane.fingerprinted)
    hit = (
        fp.join(lane.stored, id_col)
        .filter(lane.differs)
        .select(id_col)
        .unionByName(
            batch.select(id_col)
            .join(fp.select(id_col), id_col, "left_anti")
            .join(lane.stored.select(id_col), id_col, "left_semi")
        )
        .limit(1)
        .collect()
    )
    if hit:
        raise ValueError(
            f"{lane.caller}: batch id {hit[0][id_col]!r} already stored "
            f"with a DIFFERENT {lane.fingerprint_name} — ids must be "
            "stable replay keys (same id => same "
            f"{lane.payload_name}); an id collision would desync sink "
            "and index"
        )


def commit_batch(
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
    open_lane: Callable[[SparkSession], GateLane] | None = None,
) -> None:
    """One micro-batch of the exactly-once protocol every
    ``foreachBatch`` sink here runs (S3 analog). This module is the
    only code that knows the sink layout; read a sink back with
    :func:`read_sink` or :func:`read_sink_batches`.

    1. The batch's marker ``_committed_batches/<id>`` exists: no-op
       (replay after a restart).
    2. Admit. Without a lane the batch lands as-is. With one,
       ``open_lane(spark)`` loads the lane's index, the batch is
       fingerprinted and cut, the id-collision guard runs, and the
       lane's gate (against the index minus the batch's own ids)
       yields the survivors, which are cut.
    3. Overwrite ``data/__batch=<id>`` with the admitted rows.
    4. Fold the survivors into the lane's index (lanes only).
    5. Write the marker.

    Why every crash window is closed, under foreachBatch's
    at-least-once delivery:

    - the sink write is a per-batch directory overwrite, so a replayed
      batch (restart, lost checkpoint, lost marker) rewrites its own
      directory instead of appending duplicates — the marker is only
      a fast skip;
    - the gate excludes the batch's own ids from the index, so a
      replay after the fold landed but before the marker re-derives
      the IDENTICAL survivors instead of rejecting each one as a
      duplicate of its own folded fingerprint (silent data loss);
    - each lane's fold skips ids it already stores, so a replayed
      fold is a no-op;
    - ids are stable replay keys (same id => same payload); the guard
      raises on a batch id that breaks this, which would otherwise be
      admitted by the own-id-excluded gate and dropped by the fold
      (sink/index desync).

    The survivors are cut because they feed both the sink write and
    the fold, and the cut keeps the fold's append from re-deriving a
    plan that scans the index directory it appends to. Markers and
    data go through the Hadoop FileSystem API (``fs``), so the
    protocol works on ``hdfs://``/``s3a://`` as well as local disk.
    With Delta available this collapses to ``txnAppId``/``txnVersion``.
    """
    spark = batch.sparkSession
    out = out_dir.rstrip("/")
    marker = f"{out}/_committed_batches/{batch_id}"
    if fs.exists(spark, marker):
        return
    rows, lane = batch, None
    if open_lane is not None:
        lane = open_lane(spark)
        fp = lane.fingerprint(batch).localCheckpoint(eager=True)
        _raise_on_id_collision(lane, batch, fp)
        rows = lane.gate(batch, fp).localCheckpoint(eager=True)
    rows.write.mode("overwrite").parquet(f"{out}/data/__batch={batch_id}")
    if lane is not None:
        lane.fold(rows, fp)
    fs.write_text(spark, marker, "committed")


def write_idempotent_foreach_batch(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    lane: Callable[..., None] | None = None,
    available_now: bool = False,
):
    """The checkpointed, exactly-once ``foreachBatch`` driver: every
    micro-batch goes through :func:`commit_batch` into ``out_dir``
    (fixes reference Appendix B.7). Read it back with
    :func:`read_sink`.

    - Plain sink (``lane=None``): the batch lands as-is, de-duplicated
      on ``key_cols`` when given.
    - Gated sink: ``lane`` is a per-batch function with its lane
      arguments bound, called as ``lane(batch_df, batch_id,
      out_dir=out_dir)``, which ends in :func:`commit_batch` — e.g.
      ``functools.partial(phash_index.gate_and_fold_batch,
      index_path=...)`` or ``dedup_index.gate_and_fold_text_batch``
      likewise. Each batch is then gated against the index state
      built by ALL PRIOR batches and folded in before the next one
      arrives.

    ``available_now=True`` drains the backlog and TERMINATES
    (Trigger.AvailableNow — still honoring source rate limits like
    maxFilesPerTrigger, so a backlog runs as several sequential
    batches); the default runs the continuous micro-batch trigger an
    always-on ingest wants.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if lane is not None:
            lane(batch_df, batch_id, out_dir=out_dir)
        else:
            commit_batch(
                batch_df.dropDuplicates(key_cols) if key_cols else batch_df,
                batch_id,
                out_dir,
            )

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sink_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back a :func:`commit_batch` sink with the ``batch_id``
    (long) each row was admitted in."""
    return (
        spark.read.parquet(f"{out_dir.rstrip('/')}/data")
        .withColumn("batch_id", F.col("__batch").cast("long"))
        .drop("__batch")
    )


def read_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back a :func:`commit_batch` sink: the ``__batch=<id>``
    partition directories are an implementation detail, so the
    discovered ``__batch`` column is dropped."""
    return spark.read.parquet(f"{out_dir.rstrip('/')}/data").drop("__batch")


def write_stream_upsert(stream: DataFrame, table, checkpoint_dir: str):
    """The reference's actual streaming sink shape — Kafka → keyed
    Cassandra table (``spark_stream.py:217-224``) — composed from the
    engine's parts: each micro-batch MERGEs into a ``KeyedTable``
    (``sources.KeyedTable.upsert``). Replays are safe without any
    marker protocol because the MERGE itself is idempotent: upserting
    the same batch twice converges to the same keyed state. The
    upsert is bucket-scoped, so a micro-batch costs O(batch + touched
    buckets) regardless of table size."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert(batch_df)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def write_stream_scd2(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    entity_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
):
    """Streaming SCD2 maintenance: each micro-batch flows through
    ``lakehouse.scd2_apply`` — open intervals of touched entities are
    bucket-prune-read, folded against the batch, and MERGEd back as
    re-closed + newly-opened version rows. With in-order per-entity
    delivery the table converges to exactly the q67 batch derivation
    (``test_stream_scd2_equals_batch``).

    Replay safety needs the MARKER protocol, not merge idempotence:
    unlike a plain keyed upsert, re-folding an already-applied batch
    against the post-batch open intervals would mint spurious new
    versions (the fold is stateful — its input includes its own prior
    output). Markers are keyed by a CONTENT fingerprint of the batch —
    count + seq extremes + an order-independent hash over the FULL
    event tuple (seq, entity, ts, attr), so a "replay" carrying the
    same seq ids but corrected payloads fingerprints differently and
    is NOT silently swallowed — NOT by batch_id: a stream restarted
    with a fresh checkpoint renumbers batches from 0, so an id-keyed
    marker would silently swallow every NEW batch. Content addressing
    skips exactly the batches whose events were already folded,
    whatever their id. (A corrected replay then usually hits
    ``scd2_apply``'s out-of-order guard and fails loudly — the guard
    is strict-``<``, so a correction whose EARLIEST event sits
    exactly at the open interval's ``valid_from`` folds as a new
    same-timestamp observation instead; upstream corrections need a
    rebuild either way, never an in-place re-fold. The fingerprint
    formula is part of the marker namespace: changing it orphans
    every existing marker, so upgrades that touch it must drain the
    stream — no replayable batches in flight — first.)

    Crash windows are DETECTED, not silent: the marker is written in
    state ``pending`` BEFORE the merge and flipped to ``committed``
    after, so a replay that finds a pending marker raises for
    operator repair instead of re-folding. ``pending`` means exactly
    "an attempt started and did not commit" — the merge may have
    fully landed (crash before the flip), partially landed, or never
    started (transient failure before the merge); the repair is to
    compare the entity histories against the batch and either fold
    manually or delete the marker, and correctness is chosen over
    availability here deliberately (a transiently-failed batch also
    parks the stream until the operator clears it). Delta's txnAppId
    transaction log closes the window atomically on a real
    deployment. Markers accumulate one tiny file per batch — prune
    anything older than the source's replay horizon with
    :func:`scd2_marker_gc` (a replay can only re-deliver what the
    source retains)."""
    from data_lake_project_spark.lakehouse import scd2_apply

    commits_dir = f"{table.path}/_scd2_committed"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp_row = batch_df.agg(
            F.count("*").alias("n"),
            F.min(seq_col).alias("lo"),
            F.max(seq_col).alias("hi"),
            # bit_xor: order-independent fold that can't overflow
            # (ANSI mode rejects a plain long sum of hashes); hash the
            # WHOLE tuple so corrected payloads change the fingerprint
            F.expr(
                f"bit_xor(xxhash64(`{seq_col}`, `{entity_col}`, "
                f"`{ts_col}`, `{attr_col}`))"
            ).alias("h"),
        ).first()
        if fp_row["n"] == 0:
            return
        marker = (
            f"{commits_dir}/"
            f"{fp_row['n']}_{fp_row['lo']}_{fp_row['hi']}_{fp_row['h']}"
        )
        if fs.exists(spark, marker):
            if fs.read_text(spark, marker).strip() == "committed":
                return  # same batch content already folded
            raise RuntimeError(
                f"scd2 sink: marker {marker} is 'pending' — a prior "
                "attempt on this batch started and did not commit, so "
                "the merge may be fully, partially, or not at all "
                "applied. Verify the touched entities' histories "
                "against the batch (or rebuild them), then delete the "
                "marker to resume."
            )
        fs.write_text(spark, marker, "pending")
        scd2_apply(
            table,
            batch_df,
            entity_col=entity_col,
            attr_col=attr_col,
            ts_col=ts_col,
            seq_col=seq_col,
        )
        fs.write_text(spark, marker, "committed")

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def scd2_marker_gc(
    spark, table_path: str, max_age_s: float, now_ms: int | None = None
) -> int:
    """Prune committed replay markers older than ``max_age_s`` seconds.

    Markers accumulate one tiny file per micro-batch; a replay can
    only re-deliver what the source still retains, so markers older
    than the source's replay horizon (Kafka ``retention.ms``, file
    landing-zone TTL, ...) are dead weight. ``pending`` markers are
    NEVER pruned regardless of age — they flag an unrepaired crash
    window. Returns the number of markers deleted. Run it from the
    same maintenance cadence as ``compact``.
    """
    return marker_gc(
        spark,
        f"{table_path.rstrip('/')}/_scd2_committed",
        max_age_s,
        now_ms=now_ms,
    )


def write_stream_ivm(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    key_col: str,
    count_col: str = "n",
    sum_cols: dict[str, str] | None = None,
    op_col: str = "op",
):
    """Streaming continuous aggregate: each micro-batch of row-level
    changes (``op_col`` = +1 insert / -1 delete) folds into a keyed
    COUNT/SUM materialized view held in a :class:`KeyedTable` via
    ``lakehouse.ivm_apply`` — the stream-maintained rollup that keeps
    a gold table fresh without ever rescanning base data. Per batch:
    bucket-prune-read the touched keys' current rows, fold the delta,
    MERGE back — O(batch + touched buckets) regardless of view size.

    The keyed MERGE cannot delete rows, so keys folded to zero
    persist as count-0 TOMBSTONES (``ivm_apply(keep_zero=True)``);
    read the view through :func:`read_ivm`, which filters them.

    Like the SCD2 sink (and unlike the plain keyed upsert), the fold
    reads its own prior output, so replays need the content-marker
    protocol, not merge idempotence: the marker key is the foreachBatch
    ``batch_id`` PLUS a content fingerprint (count + order-independent
    hash over the full change tuple). The batch_id component makes two
    legitimately distinct micro-batches with identical content (a
    change log's tuples can repeat: ``+1 (a, 10.0)`` arriving again
    later is a real second increment) fold separately — batch_id is
    monotone within a checkpoint lineage, so only a true replay of the
    SAME batch matches its marker. The content component guards
    cross-checkpoint replays: a restarted query with a fresh checkpoint
    re-reads the same source offsets into the same (batch_id, content)
    pairs and is skipped; if the offsets-to-batch mapping changed, the
    view must be rebuilt from base data (documented operational
    contract — same as Delta's txnAppId/version story). A committed
    marker is skipped, a pending one raises for operator repair. Prune
    old markers with :func:`marker_gc` on the ``_ivm_committed`` dir.
    """
    from data_lake_project_spark.lakehouse import ivm_apply

    sum_cols = sum_cols or {}
    commits_dir = f"{table.path}/_ivm_committed"
    hash_cols = ", ".join(
        f"`{c}`" for c in [op_col, key_col, *sum_cols.keys()]
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp_row = batch_df.agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64({hash_cols}))").alias("h"),
        ).first()
        if fp_row["n"] == 0:
            return
        marker = f"{commits_dir}/b{batch_id}_{fp_row['n']}_{fp_row['h']}"
        if fs.exists(spark, marker):
            if fs.read_text(spark, marker).strip() == "committed":
                return  # same batch content already folded
            raise RuntimeError(
                f"ivm sink: marker {marker} is 'pending' — a prior "
                "attempt on this batch started and did not commit. "
                "Verify the touched keys against the change batch "
                "(or recompute them), then delete the marker."
            )
        fs.write_text(spark, marker, "pending")
        touched = batch_df.select(key_col).distinct()
        existing = table.read_for(touched, keys_col=key_col)
        if count_col in existing.columns:
            base = existing.select(
                key_col, count_col, *sum_cols.values()
            )
        else:  # first batch, table not created yet: empty base
            base = touched.limit(0).withColumn(
                count_col, F.lit(0).cast("long")
            )
            for out in sum_cols.values():
                base = base.withColumn(
                    out, F.lit(0).cast("decimal(38,2)")
                )
        folded = ivm_apply(
            base,
            batch_df,
            [key_col],
            count_col=count_col,
            sum_cols=sum_cols,
            op_col=op_col,
            keep_zero=True,
        )
        table.upsert(folded)
        fs.write_text(spark, marker, "committed")

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_ivm(table, count_col: str = "n") -> DataFrame:
    """The live view behind :func:`write_stream_ivm`: the maintained
    aggregate minus the zero-count tombstones the keyed MERGE cannot
    physically delete."""
    return table.read().filter(F.col(count_col) != 0)


def marker_gc(
    spark, commits_dir: str, max_age_s: float, now_ms: int | None = None
) -> int:
    """Prune ``committed`` replay markers older than ``max_age_s``
    seconds from any content-marker sink dir (``_scd2_committed``,
    ``_ivm_committed``). ``pending`` markers are NEVER pruned — they
    flag an unrepaired crash window. Returns markers deleted."""
    import time

    cutoff = (
        now_ms if now_ms is not None else int(time.time() * 1000)
    ) - int(max_age_s * 1000)
    deleted = 0
    for name, _size, mtime in fs.list_statuses(spark, commits_dir):
        if mtime < cutoff and fs.read_text(spark, name).strip() == "committed":
            fs.delete(spark, name, recursive=False)
            deleted += 1
    return deleted


def _await_stream(q, timeout_s: int = 600) -> None:
    """``awaitTermination(timeout)`` returns FALSE on timeout with
    the query still running — reading the memory sink then would
    snapshot a partial result, and a rerun in the same session would
    fail on the duplicate active queryName. Stop the straggler and
    fail loudly instead of returning a silently-wrong frame."""
    if not q.awaitTermination(timeout_s):
        name = q.name
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} still running after "
            f"{timeout_s}s (availableNow batch should finish in "
            "seconds) — stopped it rather than snapshot a partial "
            "memory-sink table"
        )
