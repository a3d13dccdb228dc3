"""Streaming corpus-cleaning ingest: quality gate + PII scrub + exact
dedup per micro-batch, replay-idempotent.

The batch-mode cleaning verbs (quality gate from operators/prep.py, PII
redaction from operators/textops.py, content-hash dedup) composed into
the arrival path: documents stream in, each micro-batch is gated,
scrubbed, and deduped against everything seen so far, and only clean
survivors land in the store.  The reference's analogue is the
drop-folder import loop (documents arriving under /var/lib/aktin,
reference src/docker/template.yml:51), upgraded to the corpus-ingest
shape a training pipeline runs continuously.

STORAGE: both the survivor store and the seen-hash index are txnlog
ACID tables (sources/txnlog.py), and each micro-batch lands as a
txn-idempotent APPEND — the batch id commits in the same atomic log
entry as the files, so a replayed batch is skipped by the log itself
and a crashed batch leaves only invisible orphans (no half-state for
the next attempt to exclude).  The store is appended BEFORE the hash
index: every partial-failure state then recomputes the identical
survivor set on replay (the seen-index read can only be missing the
batch's own hashes, never contain them ahead of the store).

Scale shape: the seen-hash index stores one md5 per accepted doc (the
smallest possible dedup state); each batch is rejected against it with
a hash equi-join where the BATCH side is the small side — the seen
index is never reshuffled, only probed.

Batch parity is exact and asserted in tests/test_streaming.py: the
streamed store equals quality-gate → scrub → keep-first exact dedup of
the whole corpus in batch mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.barrier import materialize
from ..functions.textfns import tokens
from ..operators.prep import MAX_STOP_RATIO, MIN_TOKENS
from ..operators.textops import (PII_EMAIL, PII_IPV4, PII_PHONE, STOPWORDS)
from ..session import local_frame
from ..sources import txnlog

DOCS_DDL = "doc_id bigint, lang string, text string"
_HASH_DDL = "doc_id bigint, h string"

_APP = "clean_ingest"


def clean_batch(batch: DataFrame) -> DataFrame:
    """Quality gate + PII scrub for one batch (pure JVM expressions,
    identical semantics to the declared pipe_01 gate and pii_01
    scrub)."""
    # tokens bound to a column first (r12, the col_01 finding): the
    # gate reads the array three times — bound, one tokenize per row
    tok = F.col("_tk")
    all_stops = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))
    n_tok = F.size(tok)
    stop_ratio = (F.size(F.filter(tok, lambda t: t.isin(*all_stops)))
                  / n_tok.cast("double"))
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_PHONE, "[PHONE]"),
        PII_IPV4, "[IP]")
    return (batch
            .withColumn("_tk", tokens("text"))
            .filter((n_tok >= MIN_TOKENS) & (stop_ratio <= MAX_STOP_RATIO))
            .select("doc_id", "lang", scrub.alias("text")))


def _ensure_table(spark: SparkSession, path: str, ddl: str,
                  key: str) -> None:
    """Create an EMPTY txnlog table if absent.  Empty-first matters for
    replay correctness: if batch 0's data went in via create_table (no
    txn action recorded), a replayed batch 0 would append a duplicate —
    creating empty and routing ALL data through txn-idempotent appends
    closes that."""
    if not os.path.isdir(os.path.join(path, txnlog._LOG)):
        txnlog.create_table(spark, local_frame(spark, [], ddl), path,
                            key=key)


def process_batch(spark, batch: DataFrame, batch_id: int, store_path: str,
                  hash_store: str) -> None:
    """One micro-batch: gate → scrub → exact dedup vs the seen-hash
    index AND within the batch (keep-first on doc_id), then
    txn-idempotent txnlog appends."""
    cleaned = materialize(clean_batch(batch))
    hashed = cleaned.select("doc_id", "lang", "text",
                            F.md5("text").alias("h"))
    _ensure_table(spark, store_path, DOCS_DDL, "doc_id")
    _ensure_table(spark, hash_store, _HASH_DDL, "doc_id")
    seen = (txnlog.read_table(spark, hash_store)
            .select("h").distinct())
    fresh = hashed.join(seen, "h", "left_anti")
    # within-batch keep-first: smallest doc_id per content hash wins
    w_first = (fresh.groupBy("h").agg(F.min("doc_id").alias("doc_id")))
    surv = materialize(
        fresh.join(w_first, ["h", "doc_id"], "left_semi")
             .select("doc_id", "lang", "text", "h"))
    # STORE FIRST, hashes second (see module docstring): every partial
    # state replays to the identical survivor set
    txnlog.append(spark, surv.select("doc_id", "lang", "text"),
                  store_path, key="doc_id", txn=(_APP, batch_id))
    txnlog.append(spark, surv.select("doc_id", "h"),
                  hash_store, key="doc_id", txn=(_APP, batch_id))


def clean_ingest(stream: DataFrame, store_path: str,
                 checkpoint: str) -> StreamingQuery:
    """writeStream.foreachBatch: gate, scrub, dedup, append."""
    spark = stream.sparkSession
    hash_store = store_path + "_content_hashes"

    def handle(batch: DataFrame, batch_id: int) -> None:
        process_batch(spark, batch, batch_id, store_path, hash_store)

    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
