"""Incremental corpus dedup: new arrivals vs a persistent
fingerprint store.

The batch dedup family (operators/dedup.py) answers "which of THESE
documents duplicate each other"; a live ingest pipeline needs the
other question — "which of these NEW documents were already
ingested, ever". Re-running exact dedup over the full corpus per
batch would be O(corpus) per micro-batch; instead the pipeline keeps
an append-only fingerprint ledger (60-bit normalized-text hashes,
8 bytes/doc — ~1 TB of ledger per 100 T docs, scan-pruned by the
fingerprint partitioning) and each micro-batch:

1. fingerprints the arrivals (md5-derived, same oracle-parity hash
   as exact_dedup),
2. drops in-batch duplicates (min-id per fingerprint),
3. left-anti joins the ledger (only the ledger's fingerprint column
   is read; with the store bucketed by fingerprint the join is
   shuffle-free on the store side),
4. appends survivors to the corpus sink AND their fingerprints to
   the ledger.

Exactly-once: both sinks are partitioned by ``ingest_batch`` and
written with dynamic partition OVERWRITE, so a replayed batch
rewrites exactly its own partitions instead of appending twice; and
the ledger read excludes the replaying batch's own partition, so a
partially-committed prior attempt can neither duplicate the corpus
nor anti-join the replay's rows out of existence.

This is the streaming-native version of the reference's "blob
exists? skip" idempotence checks (dataset.py:63-68,151-153) applied
to content identity instead of path identity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from model_presto_spark.functions.text import fingerprint60_sql


def dedup_batch_against_store(
    batch: DataFrame,
    store_df: DataFrame | None,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Pure-batch core (unit-testable without a stream): fingerprint
    arrivals, keep the min-id representative per in-batch fingerprint,
    then anti-join fingerprints already in the store. Returns the
    surviving rows with their ``fingerprint`` column attached."""
    fp = batch.withColumn("fingerprint", F.expr(fingerprint60_sql(text_col)))
    # in-batch dedup: min-id wins (deterministic under replay)
    from pyspark.sql import Window

    wmin = F.min(id_col).over(Window.partitionBy("fingerprint"))
    fresh = fp.withColumn("__m", wmin).filter(F.col(id_col) == F.col("__m")).drop("__m")
    if store_df is not None:
        # ship only the 8-byte fingerprint column of the ledger
        fresh = fresh.join(
            store_df.select("fingerprint"), "fingerprint", "left_anti"
        )
    return fresh


def incremental_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 3000,
) -> StreamingQuery:
    """Streaming ingest with cross-batch content dedup.

    Each micro-batch is deduped in-batch and against the persistent
    fingerprint ledger at ``ledger_dir``; survivors append to
    ``corpus_dir`` and their fingerprints to the ledger. Drains the
    backlog with availableNow (cron-style), like incremental_convert.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        store = None
        # the ledger is absent on the very first batch; on a replay,
        # exclude this batch's own (possibly partially-committed)
        # partition or the anti-join would wrongly drop the replay's
        # rows against its own prior attempt
        if _ledger_exists(ledger_dir):
            store = s.read.parquet(ledger_dir).filter(
                F.col("ingest_batch") != batch_id
            )
        survivors = dedup_batch_against_store(batch, store, id_col, text_col)
        # persist: survivors feed two sinks; without it the anti-join
        # (and the batch scan under it) would run twice
        survivors = survivors.withColumn(
            "ingest_batch", F.lit(batch_id)
        ).persist()
        try:
            # dynamic partition overwrite: a replayed batch rewrites
            # exactly its own ingest_batch partition (exactly-once
            # without a transactional sink)
            (
                survivors.drop("fingerprint")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(corpus_dir)
            )
            (
                survivors.select("fingerprint", F.col(id_col), "ingest_batch")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(ledger_dir)
            )
        finally:
            survivors.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _ledger_exists(path: str) -> bool:
    """True if the (ingest_batch-partitioned) ledger has any data
    file. Local-FS walk is fine here: the ledger root is one listing;
    on an object store this would be a catalog lookup instead."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(n.endswith(".parquet") for n in files):
            return True
    return False
