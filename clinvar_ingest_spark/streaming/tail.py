"""Structured-Streaming binlog/WAL tail → MERGE apply.

The reference's streaming analogue is a weekly cron with
``concurrencyPolicy: Forbid`` — non-overlapping micro-batches
(reference: orchestration/templates/cron-workflow.yaml:5-9,
values.yaml:6-10). Here the same apply loop is driven by Structured
Streaming instead of a manual ``replay`` loop: a file-source
``readStream`` tails a directory of changelog parquet segments (the
stand-in for a binlog — each closed segment file is an offset range)
and ``foreachBatch`` funnels every micro-batch through
``CdcEngine.apply_batch``.

Exactly-once comes from the ENGINE, not from Spark's checkpoint: the
batch id is the batch's ``(min(seq), max(seq))`` range, so a micro-batch
redelivered after a crash (Spark replays the last epoch from its WAL)
hits the ledger short-circuit and no-ops — the same property the manual
loop has. Spark's checkpoint only provides source progress tracking
(which files were seen); the commit protocol stays ours.

Scale notes: the file source lists new segments incrementally
(``maxFilesPerTrigger`` bounds batch size); each micro-batch inherits
the 2-job apply shape of ``CdcEngine.apply_batch``. For a real Kafka/binlog
source, swap ``readStream.parquet`` for ``readStream.format("kafka")``
+ a deserializer projection — the sink side is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.engine import CdcEngine

#: FIXTURES.md §2 changelog event schema (matches changelog_arrow_schema).
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("schema_ver", T.IntegerType()),
        T.StructField("extra", T.StringType()),
    ]
)


def tail_changelog(
    engine: CdcEngine,
    changelog_dir: str | None,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    source=None,
):
    """Tail a changelog source and MERGE-apply each micro-batch exactly
    once. Returns the StreamingQuery.

    ``source``: any ``bus.ChangelogSource`` — defaults to the file
    analogue over ``changelog_dir`` (parquet segments); pass
    ``bus.KafkaChangelogSource(...)`` on a cluster with the Kafka
    package. ``available_now=True`` drains everything currently
    present and stops (batch-over-stream, used by tests/bench);
    ``False`` keeps tailing on ``processing_time`` triggers like a
    real binlog consumer.
    """
    spark = engine.spark

    if source is None:
        from clinvar_ingest_spark.bus import FileChangelogSource

        source = FileChangelogSource(changelog_dir, max_files_per_trigger)
    stream = source.stream(spark)

    def apply_micro_batch(batch: DataFrame, epoch_id: int) -> None:
        bounds = batch.agg(
            F.min("seq").alias("lo"), F.max("seq").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return  # empty trigger
        engine.apply_batch(batch, int(bounds["lo"]), int(bounds["hi"]))

    writer = (
        stream.writeStream.foreachBatch(apply_micro_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def tail_until_drained(
    engine: CdcEngine,
    changelog_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    timeout_secs: float = 600.0,
    source=None,
) -> None:
    """Convenience: run an availableNow tail to completion
    (``source`` as in :func:`tail_changelog`)."""
    q = tail_changelog(
        engine,
        changelog_dir,
        checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
        source=source,
    )
    try:
        if not q.awaitTermination(timeout_secs):
            raise TimeoutError(
                f"changelog tail did not drain within {timeout_secs}s"
            )
    finally:
        if q.isActive:
            q.stop()
