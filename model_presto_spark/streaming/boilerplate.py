"""Incremental line-boilerplate scrubbing: new arrivals vs a
persistent line-frequency ledger.

The batch operator (operators/lines.py) answers "which lines are
boilerplate in THIS corpus"; a live ingest pipeline needs the
running version — "which lines have become boilerplate across
everything ingested so far". Re-counting the whole corpus per
micro-batch would be O(corpus); instead the pipeline keeps a
line-frequency ledger of per-batch (lhash, doc_freq) DELTAS
(8-byte hashes, partitioned by ingest batch, merge-on-read via one
SUM groupBy) and each micro-batch:

1. segments + hashes the arrivals' lines with the batch operator's
   own step (``lines._hashed_lines``, one fingerprint per line),
2. folds the arrivals' own line doc-frequencies (``line_doc_freq``)
   with the ledger's running totals,
3. drops lines whose CUMULATIVE doc frequency has reached
   ``min_doc_freq`` from the arriving documents, rebuilt in line
   order by the batch operator's ``_kept_lines``,
4. writes scrubbed docs to the corpus sink and the batch's
   frequency deltas to the ledger.

Streaming semantics caveat, by design: a line only starts being
removed once its running frequency crosses the threshold, so
documents ingested before that keep it — the ledger converges and a
periodic batch re-scrub (operators/lines.remove_frequent_lines over
the materialized corpus) handles retroactive removal. That split —
cheap forward-path filter + occasional full-corpus repair — is the
standard shape at 100 TB.

Exactly-once: both sinks are partitioned by ``ingest_batch`` with
dynamic partition overwrite, and the ledger read excludes the
replaying batch's own partition (same replay discipline as
streaming/incremental_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from model_presto_spark.operators.lines import (
    _hashed_lines,
    _kept_lines,
    line_doc_freq,
)
from model_presto_spark.streaming.incremental_dedup import _ledger_exists


def scrub_batch_against_ledger(
    batch: DataFrame,
    ledger_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
    delimiter: str | None = "\n",
    width: int = 10,
    fast_hash: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Pure-batch core (unit-testable without a stream).

    Returns ``(scrubbed_docs, freq_deltas)``: the arriving documents
    with lines removed whose ledger + in-batch doc frequency reaches
    ``min_doc_freq``, and this batch's (lhash, doc_freq) deltas to
    append to the ledger. A document whose every line is boilerplate
    survives with empty text (rows are never dropped here — that is
    a separate quality gate's decision).
    """
    # hashed feeds three branches (deltas, the boilerplate join, the doc
    # rebuild); eager localCheckpoint materializes the segment+hash
    # pass once WITHOUT a persist whose lifecycle would outlive the
    # micro-batch (blocks free with the RDD, no unpersist handle
    # needed across foreachBatch calls)
    hashed = _hashed_lines(
        batch, id_col, text_col, delimiter, width, fast_hash
    ).localCheckpoint(eager=True)
    deltas = line_doc_freq(hashed, id_col)
    if ledger_df is not None:
        prior = ledger_df.groupBy("lhash").agg(
            F.sum("doc_freq").alias("prior_freq")
        )
        running = deltas.join(prior, "lhash", "left").select(
            "lhash",
            (
                F.col("doc_freq") + F.coalesce(F.col("prior_freq"), F.lit(0))
            ).alias("running_freq"),
        )
    else:
        running = deltas.select(
            "lhash", F.col("doc_freq").alias("running_freq")
        )
    boiler = running.where(F.col("running_freq") >= min_doc_freq)
    kept = _kept_lines(hashed, boiler, id_col, delimiter)
    scrubbed = (
        batch.join(kept.select(id_col, "__kept"), id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("__kept"), F.lit("")))
        .drop("__kept")
    )
    return scrubbed, deltas


def incremental_boilerplate_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
    delimiter: str | None = "\n",
    width: int = 10,
    max_files_per_trigger: int = 3000,
) -> StreamingQuery:
    """Streaming ingest with running line-boilerplate scrubbing;
    drains the backlog with availableNow (cron-style)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        ledger = None
        if _ledger_exists(ledger_dir):
            ledger = s.read.parquet(ledger_dir).filter(
                F.col("ingest_batch") != batch_id
            )
        scrubbed, deltas = scrub_batch_against_ledger(
            batch, ledger, id_col, text_col, min_doc_freq, delimiter, width
        )
        scrubbed = scrubbed.withColumn("ingest_batch", F.lit(batch_id))
        deltas = deltas.withColumn("ingest_batch", F.lit(batch_id))
        (
            scrubbed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(corpus_dir)
        )
        (
            deltas.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(ledger_dir)
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
