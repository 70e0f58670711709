"""Structured Streaming CDC ingest: micro-batch MERGE apply.

Reference semantics being re-created (SURVEY.md §2 rows 3, 6; §3.2): a CDC
stream of (op ∈ {I,U,D}, lsn, <full row>) events, applied transactionally
per epoch — moonlink's per-transaction stream buffers committed at the
stream LSN boundary (transaction_stream.rs:58,137-143) map to Structured
Streaming micro-batches committed by foreachBatch; an aborted epoch simply
never reaches merge_into, so no partial state is ever visible (the abort =
drop-staged-buffer analog of table_handler.rs:908-917).

Exactly-once across restarts: Spark's checkpointed epoch id makes replays
carry the SAME batch_id; merge runs under run_id "stream-{batch_id}", so a
replayed epoch whose merge committed is a no-op (completed_run) and one whose
merge did not commit applies the batch again from scratch. LWW dedup within
the batch keeps reordered events deterministic.

At scale this is the continuous-ingest path: the per-epoch work is exactly
one MERGE (one Spark query that reads the micro-batch once and writes its
inserts, then a driver-side key-index lookup and one deletion-vector file),
so throughput tracks merge_into.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from moonlink_spark.operators.merge import merge_into
from moonlink_spark.table import MoonTable


@dataclass
class MaintenancePolicy:
    """Threshold-triggered maintenance inside the ingest loop — the
    streaming analog of the reference's snapshot-maintenance triggers
    (snapshot_maintenance.rs: compaction fires when enough files qualify,
    not on a clock). After every *every_n_batches*-th epoch's merge, if the
    table has accumulated enough off-curve pressure (fresh merge-insert
    files, or delete-heavy clustered files), one INCREMENTAL clustering
    pass absorbs it — the table stays read-optimized continuously with
    bounded work per trigger (victim bytes ≈ recent ingest, never the
    table)."""

    cluster_by: list[str] = field(default_factory=lambda: ["phash", "w", "h"])
    curve: str = "zorder"
    max_unclustered_files: int = 8
    max_unclustered_bytes: int = 512 * 1024 * 1024
    delete_ratio: float = 0.5
    every_n_batches: int = 1
    # continuous Iceberg sync: after each epoch's commit(s), export the
    # resulting snapshot as genuine Iceberg v2 metadata under this dir —
    # the reference's core loop (every mooncake snapshot persisted to
    # Iceberg, iceberg_table_syncer.rs:723-838). Exactly-once: a replayed
    # epoch's merge no-ops, the snapshot is unchanged, and export of an
    # already-current snapshot is a no-op.
    iceberg_mirror: str | None = None
    # each export pins its source snapshot with an iceberg-export-<sid>
    # tag (sweeps must not reclaim files the mirror references). "auto"
    # (the default) derives pin lifecycle from mirror_keep_versions: when
    # coherent retention is active the expiry itself releases exactly the
    # expired versions' pins, so no count-based rotation runs (rotating
    # fewer pins than kept versions would break still-kept versions);
    # with mirror_keep_versions=None, "auto" falls back to keeping the
    # newest 8 pins. An int forces count-based rotation; None keeps every
    # pin.
    mirror_keep_pins: int | None | str = "auto"
    # Iceberg format version for the mirror: 2 (position-delete parquet,
    # default) or 3 (puffin deletion-vector blobs — the reference's native
    # DV form, deletion_vector.rs:15-21)
    mirror_format_version: int = 2
    # Coherent mirror retention: after each export, expire mirror versions
    # beyond the newest N (expire_iceberg_mirror: prunes mirror metadata,
    # deletes mirror-local delete/manifest files, releases the expired
    # versions' source pins). Unlike count-based pin rotation — which only
    # rotates pins and leaves the mirror claiming versions that may
    # break — this keeps the mirror's metadata and its pins in lockstep.
    # On by default so an out-of-the-box stream cannot grow an incoherent
    # mirror; None = grow forever.
    mirror_keep_versions: int | None = 8

    def due(self, table: MoonTable) -> bool:
        files = table.data_files()
        pressure = [
            f
            for f in files
            if f.cluster_by != self.curve
            or (f.record_count > 0 and f.deleted_count / f.record_count >= self.delete_ratio)
        ]
        return (
            len(pressure) >= self.max_unclustered_files
            or sum(f.live_bytes for f in pressure) >= self.max_unclustered_bytes
        )


def maybe_maintain(table: MoonTable, policy: MaintenancePolicy, run_id: str) -> int | None:
    """Run one incremental clustering pass iff the policy's thresholds are
    crossed. Deterministic run_id per epoch: a replayed epoch either resumes
    the same run's lineage or finds no pressure and no-ops."""
    if not policy.due(table):
        return None
    from moonlink_spark.operators.clustering import cluster

    return cluster(
        table, by=policy.cluster_by, curve=policy.curve, run_id=run_id,
        scope="incremental", lock_wait_seconds=300.0,
    )


def start_cdc_stream(
    table: MoonTable,
    changes_stream: DataFrame,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "moonlink_cdc",
    maintenance: MaintenancePolicy | None = None,
    wal_dir: str | None = None,
    since_lsn: int | None = None,
) -> StreamingQuery:
    """Attach a streaming CDC source (op, lsn, <table columns>) to *table*.

    Returns the running StreamingQuery; each micro-batch commits one table
    snapshot (operation="merge") or none if the batch is empty. With a
    *maintenance* policy, epochs additionally self-maintain (see
    MaintenancePolicy).

    With *wal_dir*, every epoch's normalized batch is persisted there
    BEFORE apply and the merge consumes the durable copy; after the commit
    the WAL is truncated to the flush-lsn. A crash that outlives the
    source files is then recoverable via
    :func:`moonlink_spark.streaming.wal.replay_wal` (the reference's
    ingest-WAL durability, wal.rs:80-168,1117-1334).

    *since_lsn*: the initial-copy handoff boundary (streaming/bootstrap.py)
    — events at or below it are already reflected in the copied snapshot
    and are discarded at the stream edge, JVM-side, before epochs form
    (pg_replicate.rs:240-310: replication marked at boundary_lsn, seen
    rows discarded)."""
    if since_lsn is not None:
        changes_stream = changes_stream.filter(F.col("lsn") > since_lsn)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if wal_dir is not None:
            from moonlink_spark.streaming.wal import wal_append, wal_read, wal_truncate

            wal_append(wal_dir, batch_df, batch_id)
            batch_df = wal_read(table.spark, wal_dir, batch_id, table.schema)
        merge_into(table, batch_df, run_id=f"stream-{batch_id}")
        if wal_dir is not None:
            wal_truncate(wal_dir, table.current_flush_lsn())
        if maintenance is not None and batch_id % maintenance.every_n_batches == 0:
            maybe_maintain(table, maintenance, run_id=f"stream-maint-{batch_id}")
        if maintenance is not None and maintenance.iceberg_mirror:
            from moonlink_spark.iceberg import export_iceberg

            export_iceberg(
                table,
                maintenance.iceberg_mirror,
                format_version=maintenance.mirror_format_version,
            )
            if maintenance.mirror_keep_versions is not None:
                from moonlink_spark.iceberg import expire_iceberg_mirror

                expire_iceberg_mirror(
                    table.spark,
                    maintenance.iceberg_mirror,
                    keep_last=maintenance.mirror_keep_versions,
                    source_table=table,
                )
            keep = maintenance.mirror_keep_pins
            if keep == "auto":
                # coherent retention released expired pins already; only
                # rotate by count when retention is off
                keep = 8 if maintenance.mirror_keep_versions is None else None
            if keep is not None:
                pins = sorted(
                    (sid, name)
                    for name, sid in table.refs().items()
                    if name.startswith("iceberg-export-")
                )
                for _, name in pins[:-keep]:
                    table.drop_tag(name)

    writer = (
        changes_stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_apply)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def ingest_cdc_dir(
    table: MoonTable,
    changes_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    maintenance: MaintenancePolicy | None = None,
    format: str = "parquet",
    wal2json_table: str | None = None,
    wal_dir: str | None = None,
    since_lsn: int | None = None,
    avro_registry_dir: str | None = None,
) -> None:
    """Drain a drop-directory of CDC files into *table* and stop
    (Trigger.AvailableNow): the bounded-backfill shape of the continuous
    path above. Each micro-batch is one transactional MERGE commit.

    *format*: "parquet" (typed files), "json" (newline-delimited REST-
    style events parsed/coerced against the table schema — the
    rest_ingest/json_converter.rs analog, sources/json_cdc.py), or
    "wal2json" (Postgres logical-decoding transaction lines — the
    pg_replicate analog, sources/wal2json.py), "avro" (a landed
    Kafka-topic dump of binary Avro event payloads decoded against the
    table schema — the rest_ingest/avro_converter.rs analog,
    sources/avro_cdc.py), "avro_wire" (Confluent wire framing; each
    event names its registered schema version by id in
    *avro_registry_dir*, mixed versions coerce to the current table
    schema — the rest_api.rs schema-registration analog), or "proto"
    (proto3-encoded event payloads against the schema-derived message
    layout — the rest_ingest/proto_converter.rs analog,
    sources/proto_cdc.py).

    *wal_dir*: persist each epoch durably before apply (see
    start_cdc_stream), so the backfill survives source-directory pruning
    across a crash."""
    schema = table.schema
    import pyspark.sql.types as T

    if format == "json":
        from moonlink_spark.sources.json_cdc import stream_json_cdc

        stream = stream_json_cdc(
            table.spark, changes_dir, schema,
            max_files_per_trigger=max_files_per_trigger,
        )
    elif format == "wal2json":
        from moonlink_spark.sources.wal2json import stream_wal2json

        stream = stream_wal2json(
            table.spark, changes_dir, schema, table=wal2json_table,
            max_files_per_trigger=max_files_per_trigger,
        )
    elif format == "avro":
        from moonlink_spark.sources.avro_cdc import stream_avro_cdc

        stream = stream_avro_cdc(
            table.spark, changes_dir, schema,
            max_files_per_trigger=max_files_per_trigger,
        )
    elif format == "avro_wire":
        from moonlink_spark.sources.avro_cdc import stream_avro_cdc_wire

        if not avro_registry_dir:
            raise ValueError("format='avro_wire' requires avro_registry_dir")
        stream = stream_avro_cdc_wire(
            table.spark, changes_dir, schema, avro_registry_dir,
            max_files_per_trigger=max_files_per_trigger,
        )
    elif format == "proto":
        from moonlink_spark.sources.proto_cdc import stream_proto_cdc

        stream = stream_proto_cdc(
            table.spark, changes_dir, schema,
            max_files_per_trigger=max_files_per_trigger,
        )
    elif format == "parquet":
        src_schema = T.StructType(
            [
                T.StructField("op", T.StringType(), False),
                T.StructField("lsn", T.LongType(), False),
                *schema.fields,
            ]
        )
        reader = table.spark.readStream.schema(src_schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(changes_dir)
    else:
        raise ValueError(f"unsupported CDC format {format!r}")
    q = start_cdc_stream(
        table, stream, checkpoint_dir, trigger={"availableNow": True},
        query_name="moonlink_cdc_backfill", maintenance=maintenance,
        wal_dir=wal_dir, since_lsn=since_lsn,
    )
    q.awaitTermination()


def windowed_event_counts(
    spark,
    events_dir: str,
    checkpoint_dir: str,
    window: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """readStream -> watermark -> tumbling-window agg -> in-memory sink,
    drained with Trigger.AvailableNow; returns the final result DataFrame.

    The real Structured Streaming plan (stateful windowed aggregation with a
    late-data watermark); in complete mode every window is emitted when the
    bounded source drains, so batch oracles can check it exactly."""
    import uuid

    from pyspark.sql import functions as F

    schema = spark.read.parquet(events_dir).schema  # bounded source: cheap footer read
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks need a zoned timestamp; session TZ is UTC so an ntz cast is
    # value-preserving
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).start.alias("win_start"), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    name = f"moonlink_win_agg_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.queryName(name)
        .outputMode("complete")
        .format("memory")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        # ntz round-trip keeps the output schema identical to the batch twin
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type", "n_events", "value_cents",
    )
