"""Custom stateful streaming operator: per-url LWW state via
``applyInPandasWithState``.

An alternative, state-store-backed materialization of the engine's LWW
semantics (ArchiveBranches.scala:140-156 + diff-apply): each url group
keeps (warc_ts, seq, op, lang) in Spark's state store; every micro-batch
emits the url's new winner iff it changed. This is what a push-style
downstream (the reference's Kafka consumer) would subscribe to, while
the lakelet table remains the pull-style snapshot source of truth.

Deletes emit with ``live = false`` (soft-delete notification), matching
the diff-export contract (docker/diff/diff.py:138-141).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from clinvar_ingest_spark.operators.merge_cogroup import _NEG
from clinvar_ingest_spark.streaming.cells import _ts_us, _us_ts

STATE_SCHEMA = T.StructType(
    [
        T.StructField("warc_ts_us", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("live", T.BooleanType()),
    ]
)


def _fold(pdfs: Iterator[pd.DataFrame], st: tuple) -> tuple | None:
    """Fold a key's micro-batch events into its (warc_ts_us, seq, op,
    lang) state by the batch kernel's position: ``warc_ts`` in µs with
    NULL at ``_NEG`` (lowest), then ``seq``. None when nothing wins."""
    new = st
    for pdf in pdfs:
        ts = _ts_us(pdf["warc_ts"])
        i = np.lexsort((pdf["seq"].to_numpy(), ts))[-1]
        row = pdf.iloc[i]
        pos = (int(ts[i]), int(row["seq"]))
        if pos > new[:2]:
            new = (*pos, row["op"], row["lang"])
    return None if new is st else new


def _lww_update(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (url,) = key
    new = _fold(pdfs, tuple(state.get) if state.exists else (_NEG, _NEG, None, None))
    if new is not None:
        state.update(new)
        ts_us, seq, op, lang = new
        yield pd.DataFrame(
            {
                "url": [url],
                "warc_ts": [_us_ts(ts_us)],
                "seq": [seq],
                "lang": [lang],
                "live": [op != "delete"],
            }
        )


def streaming_lww_state(stream: DataFrame) -> DataFrame:
    """Changelog stream → per-url LWW change feed (update semantics)."""
    return (
        stream.groupBy("url")
        .applyInPandasWithState(
            _lww_update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_lww_feed(
    spark,
    changelog_dir: str,
    checkpoint_dir: str,
    query_name: str = "lww_feed",
    available_now: bool = True,
):
    """Tail segments → LWW change feed → in-memory sink (tests/demo);
    swap the sink for Kafka/parquet in production."""
    from clinvar_ingest_spark.streaming.tail import CHANGELOG_SCHEMA

    stream = spark.readStream.schema(CHANGELOG_SCHEMA).parquet(changelog_dir)
    feed = streaming_lww_state(stream)
    writer = (
        feed.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


RETRACT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("change_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _retract_update(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Retract-form continuous CDC: the state store holds each key's
    previous winner, so every LWW change emits the Flink-changelog row
    kinds — insert / delete (with the deleted row's image) /
    update_before + update_after — the streaming dual of
    ``CdcEngine.changelog_view``. Telescoping holds: folding the feed
    (+insert/update_after, −delete/update_before) over any window of
    micro-batches reproduces the live-state delta of that window."""
    (url,) = key
    prev = tuple(state.get) if state.exists else None
    new = _fold(pdfs, prev or (_NEG, _NEG, None, None))
    if new is None:
        return
    state.update(new)
    ts_us, seq, op, lang = new
    prev_live = prev is not None and prev[2] != "delete"
    new_live = op != "delete"
    rows: list[tuple] = []
    if prev_live and new_live:
        rows = [
            ("update_before", _us_ts(prev[0]), prev[1], prev[3]),
            ("update_after", _us_ts(ts_us), seq, lang),
        ]
    elif prev_live and not new_live:
        # the delete carries the DELETED row's image (Flink DELETE)
        rows = [("delete", _us_ts(prev[0]), prev[1], prev[3])]
    elif not prev_live and new_live:
        rows = [("insert", _us_ts(ts_us), seq, lang)]
    else:
        return  # dead → dead: state advanced, nothing to retract
    yield pd.DataFrame(
        {
            "change_type": [r[0] for r in rows],
            "url": [url] * len(rows),
            "warc_ts": [r[1] for r in rows],
            "seq": [r[2] for r in rows],
            "lang": [r[3] for r in rows],
        }
    )


def streaming_retract_feed(stream: DataFrame) -> DataFrame:
    """Changelog stream → retract-form change feed (append semantics:
    every emitted row is final — retractions are explicit rows, never
    in-place updates, so any append-only sink can carry the feed)."""
    return stream.groupBy("url").applyInPandasWithState(
        _retract_update,
        outputStructType=RETRACT_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_retract_feed(
    spark,
    changelog_dir: str,
    checkpoint_dir: str,
    query_name: str = "retract_feed",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Tail segments → retract feed → in-memory sink (tests/demo).
    ``max_files_per_trigger=1`` pins one segment per micro-batch, which
    makes the emitted set a deterministic union of per-segment hops —
    the form the SQL oracle mirrors."""
    from clinvar_ingest_spark.streaming.tail import CHANGELOG_SCHEMA

    reader = spark.readStream.schema(CHANGELOG_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(changelog_dir)
    feed = streaming_retract_feed(stream)
    writer = (
        feed.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
