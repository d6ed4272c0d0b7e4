"""File + Kafka sinks (batch and streaming).

Reference file sink: ``df.write.mode(saveMode).format(fmt).save(path +
"/" + sink.name)`` per configured path (``PipelineProcessor.scala:
122-128`` ok split, ``:134-140`` ko split). Reference Kafka sink:
serialize the whole row to one JSON string column ``value`` and write to
a topic (``publishToKafka``, ``:148-156``).

Engine extensions for scale:
- optional ``partitionBy`` columns on file sinks (partition pruning on
  read is the single biggest win for 100 TB date-partitioned data);
- parquet as the default format (columnar + stats + pushdown) where the
  reference defaults to the configured string;
- streaming variants via ``writeStream`` / ``foreachBatch`` reusing the
  same batch writers; one ``foreachBatch`` query can feed several sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.metadata import Sink


def serialize_for_kafka(df: DataFrame, key_column: str | None = None) -> DataFrame:
    """Row -> single JSON ``value`` column, the reference's wire format
    (``to_json(struct("*"))``, ``PipelineProcessor.scala:150``). The
    reference writes no key (SURVEY.md §2.3.6); passing ``key_column``
    adds one for partition-stable publishing (engine extension)."""
    cols = [F.to_json(F.struct("*")).alias("value")]
    if key_column is not None:
        cols.insert(0, F.col(key_column).cast("string").alias("key"))
    return df.select(*cols)


def publish_to_kafka(df: DataFrame, bootstrap_servers: str, topic: str,
                     key_column: str | None = None) -> None:
    """Batch-publish a frame to a topic (``PipelineProcessor.scala:148-156``).

    Executors hold the producer connections; the driver only plans.
    """
    (serialize_for_kafka(df, key_column)
     .write.format("kafka")
     .option("kafka.bootstrap.servers", bootstrap_servers)
     .option("topic", topic)
     .save())


def state_table_exists(spark, path: str) -> bool:
    """True iff the upsert state table at ``path`` already exists.

    Explicit Hadoop-FS existence check (works for local/HDFS/object
    stores) so the merge sinks can distinguish "first write — no state
    yet" from a genuine read failure (corrupt/partial state after a
    crash, FS hiccup, permission error).  Only the former may proceed
    with a state-free merge; every other failure must propagate, or the
    sink would silently discard all accumulated CDC state — the exact
    data-loss mode a MERGE sink exists to prevent."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def upsert_sink(df: DataFrame, sink: Sink) -> None:
    """MERGE/upsert sink [EXT]: the state table at ``<path>/<name>``
    always holds the CURRENT row per key — per write, union the
    incoming frame with existing state and keep the per-key argmax of
    the configured order columns (descending; include a unique
    tiebreaker). Config surface: ``format: "upsert"`` with options
    ``keys`` and ``orderBy`` (comma-separated). The argmax rule makes
    the merge IDEMPOTENT and batch-split-independent, so streaming
    replays (foreachBatch redelivery after a crash) converge to the
    same state — the property a CDC sink needs for exactly-once
    SEMANTICS on at-least-once delivery.

    Read-modify-write: the merged frame localCheckpoints before
    overwriting its own input dir. On a cluster with a MERGE-capable
    table format (Iceberg/Delta) this body becomes ``MERGE INTO``;
    the config contract is unchanged."""
    from pyspark.sql import Window

    keys = [c.strip() for c in sink.options["keys"].split(",")]
    order = [c.strip() for c in sink.options["orderBy"].split(",")]
    spark = df.sparkSession
    for path in sink.paths:
        state = f"{path}/{sink.name}"
        # Existence-gated, not exception-gated: a corrupt or partially
        # written state table must FAIL the merge, not be dropped.
        if state_table_exists(spark, state):
            merged = spark.read.parquet(state).unionByName(df)
        else:  # first write: no state yet
            merged = df
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order])
        latest = (merged.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn")
                  .localCheckpoint(eager=True))
        latest.write.mode("overwrite").parquet(state)


def write_sink(df: DataFrame, sink: Sink) -> None:
    """Write a frame to every configured path of a sink.

    Path layout is ``<path>/<name>`` exactly like the reference
    (``PipelineProcessor.scala:128``, ``:140``). ``format: "kafka"``
    routes to the Kafka batch sink, with ``paths`` read as
    ``bootstrap_servers`` and ``name`` as the topic; ``format:
    "upsert"`` routes to the keyed MERGE sink.
    """
    if sink.format.lower() == "upsert":
        upsert_sink(df, sink)
        return
    if sink.format.lower() == "kafka":
        for servers in sink.paths:
            publish_to_kafka(df, servers, sink.name,
                             key_column=sink.options.get("keyColumn"))
        return
    for path in sink.paths:
        writer = (df.write.mode(sink.saveMode.lower())
                  .format(sink.format.lower())
                  .options(**sink.options))
        if sink.partitionBy:
            writer = writer.partitionBy(*sink.partitionBy)
        writer.save(f"{path}/{sink.name}")


def write_stream_to_kafka(df: DataFrame, bootstrap_servers: str, topic: str,
                          checkpoint: str, key_column: str | None = None):
    """Streaming Kafka sink [EXT] — same wire format as the batch path."""
    return (serialize_for_kafka(df, key_column)
            .writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint)
            .start())


def check_streaming_sink(sink: Sink) -> None:
    """Raise unless ``sink`` is safe to write once per micro-batch.

    Only ``saveMode: append`` is accepted: each micro-batch issues one
    batch write, so an OVERWRITE sink would clobber every previous
    batch's output — silent data loss on any multi-batch stream. The
    upsert sink is exempt: each micro-batch MERGES into state (its
    overwrite IS the merge), so it is multi-batch-safe by construction
    regardless of the declared saveMode."""
    if (sink.saveMode.lower() != "append"
            and sink.format.lower() != "upsert"):
        raise ValueError(
            f"streaming sink {sink.name!r} has saveMode "
            f"{sink.saveMode!r}: foreachBatch re-runs the batch writer "
            "per micro-batch, so only 'append' is safe (OVERWRITE would "
            "clobber previous batches). Declare the sink as append, or "
            "run the dataflow as batch.")


def foreach_batch_sink(df: DataFrame, *sinks: Sink, checkpoint: str,
                       available_now: bool = False):
    """One streaming query that writes each micro-batch to every sink
    in ``sinks`` through the batch ``write_sink`` — the idiomatic way
    to stream into any batch-only format, and to fan one stream out to
    several outputs without reading its source once per output.
    ``available_now=True`` drains everything currently in the source
    and stops (bounded backfill / test runs); the default runs
    continuously. ``PipelineExecutor.run_dataflow`` starts one such
    query per distinct streaming frame that sinks read, with the
    checkpoint at the group's first sink (``<path>/<name>.checkpoint``).

    Every sink must pass ``check_streaming_sink`` (append, or upsert);
    a bad one raises before the query starts rather than at the Nth
    micro-batch. With more than one sink the micro-batch is persisted
    once, written to each sink in order and unpersisted; a single sink
    reads it once, so it is not cached.

    Delivery: the checkpoint records which source files/offsets were
    already processed, and a micro-batch commits only after EVERY sink
    wrote it. A RERUN against the same checkpoint skips committed
    batches (no duplicate appends) — delete the checkpoint directory to
    reprocess from scratch. If sink *k* fails, the batch stays
    uncommitted for the whole group and the rerun writes sinks
    1..*k*-1 again, so append sinks in a multi-sink group are
    at-least-once under failure (as one sink already is when its
    commit fails). The upsert sink's argmax merge is idempotent, so it
    converges regardless.
    """
    if not sinks:
        raise TypeError("foreach_batch_sink needs at least one sink")
    for sink in sinks:
        check_streaming_sink(sink)
    shared = len(sinks) > 1

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        if shared:
            batch_df.persist()
        try:
            for sink in sinks:
                write_sink(batch_df, sink)
        finally:
            if shared:
                batch_df.unpersist()

    writer = (df.writeStream.foreachBatch(_write)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
