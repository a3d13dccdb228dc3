"""Streaming ingest pipeline (STR-01 + STR-09): directory watch →
parse → idempotent MERGE per micro-batch.

This is the Structured Streaming upgrade of the reference's CDA/P21
import flow (SURVEY.md §3.2): files dropped under /var/lib/aktin
(volume at reference src/docker/template.yml:51) become micro-batches;
each batch merges by encounter key, so re-submitted documents replace
their own facts exactly like the reference's delete+insert re-import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources import txnlog


def stream_merge_to_table(stream: DataFrame, table_path: str,
                          checkpoint: str, *,
                          key: str = "encounter_num") -> StreamingQuery:
    """writeStream.foreachBatch(MERGE) — upsert semantics of SNK-01 in
    streaming.  Exactly-once per batch via the checkpoint + the merge
    being idempotent by key.  The table is a txnlog ACID table: the
    first micro-batch creates it, every later one is a
    :func:`txnlog.merge` — an atomic log commit, so a batch retried
    after a crash re-merges idempotently and readers never observe a
    half-applied rewrite."""
    spark = stream.sparkSession
    state = {"initialized": False}

    def handle(batch: DataFrame, batch_id: int) -> None:
        import os
        if not state["initialized"] and not os.path.isdir(table_path):
            txnlog.create_table(spark, batch, table_path, key=key)
        else:
            txnlog.merge(spark, table_path, batch, key=key)
        state["initialized"] = True

    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
