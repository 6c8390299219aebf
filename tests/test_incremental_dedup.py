"""Incremental cross-batch dedup: ledger semantics, wave-over-wave
dedup, and replay idempotence."""

from __future__ import annotations

from pyspark.sql import functions as F


def _wave(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_batch_core_in_batch_and_store_dedup(spark):
    from model_presto_spark.streaming.incremental_dedup import (
        dedup_batch_against_store,
    )
    from model_presto_spark.functions.text import fingerprint60_sql

    batch = _wave(
        spark,
        [
            (1, "alpha beta"),
            (2, "alpha beta"),      # in-batch dup of 1
            (3, "gamma delta"),
            (4, "seen before"),     # already in store
        ],
    )
    store = _wave(spark, [(99, "seen before")]).selectExpr(
        f"{fingerprint60_sql('text')} AS fingerprint"
    )
    out = dedup_batch_against_store(batch, store, "doc_id", "text")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    # no store at all (first batch): only in-batch dedup applies
    out0 = dedup_batch_against_store(batch, None, "doc_id", "text")
    assert sorted(r["doc_id"] for r in out0.collect()) == [1, 3, 4]


def test_incremental_ingest_across_waves(spark, tmp_path):
    from model_presto_spark.streaming.incremental_dedup import (
        incremental_dedup_ingest,
    )

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run():
        q = incremental_dedup_ingest(
            spark, landing, corpus, ledger, ckpt, schema
        )
        q.awaitTermination(120)

    # wave 1
    _wave(spark, [(1, "doc one"), (2, "doc two"), (3, "doc one")]).coalesce(
        1
    ).write.mode("append").parquet(landing)
    run()
    got1 = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in got1.collect()) == [1, 2]

    # wave 2: one genuinely new doc, one cross-wave duplicate
    _wave(spark, [(10, "doc three"), (11, "doc one")]).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    got2 = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in got2.collect()) == [1, 2, 10]

    # ledger holds exactly the surviving fingerprints
    led = spark.read.parquet(ledger)
    assert led.count() == 3
    assert led.select("fingerprint").distinct().count() == 3

    # wave 3: all duplicates -> nothing appended anywhere
    _wave(spark, [(20, "doc one"), (21, "doc three")]).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(ledger).count() == 3


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running a committed batch (fresh checkpoint over the same
    landing data and sinks) must not duplicate corpus rows: the
    per-batch dynamic partition overwrite rewrites the same
    ingest_batch partition."""
    from model_presto_spark.streaming.incremental_dedup import (
        incremental_dedup_ingest,
    )

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    schema = "doc_id long, text string"

    _wave(spark, [(1, "only doc")]).coalesce(1).write.mode("append").parquet(
        landing
    )
    q1 = incremental_dedup_ingest(
        spark, landing, corpus, ledger, str(tmp_path / "ck_a"), schema
    )
    q1.awaitTermination(120)
    # simulate the worst-case replay: a brand-new checkpoint reruns
    # batch 0 over the same landing files with the sinks already
    # written (this is strictly harsher than a checkpoint recovery,
    # which would skip the committed batch entirely)
    q2 = incremental_dedup_ingest(
        spark, landing, corpus, ledger, str(tmp_path / "ck_b"), schema
    )
    q2.awaitTermination(120)

    assert spark.read.parquet(corpus).count() == 1
    assert spark.read.parquet(ledger).count() == 1


# ---------------------------------------------------------------------------
# streaming/boilerplate.py — incremental line-boilerplate scrubbing
# ---------------------------------------------------------------------------
def test_boilerplate_batch_core_running_frequency(spark):
    from model_presto_spark.streaming.boilerplate import (
        scrub_batch_against_ledger,
    )

    batch = _wave(
        spark,
        [
            (1, "fresh alpha\ncookie banner"),
            (2, "cookie banner\nfresh beta"),
        ],
    )
    # ledger says "cookie banner" was already seen in 3 docs
    from model_presto_spark.functions.text import h60_fast_sql
    ledger = spark.createDataFrame(
        [("cookie banner", 3)], "line string, doc_freq long"
    ).selectExpr(f"{h60_fast_sql('line')} AS lhash", "doc_freq")
    scrubbed, deltas = scrub_batch_against_ledger(
        batch, ledger, min_doc_freq=5
    )
    texts = {r["doc_id"]: r["text"] for r in scrubbed.collect()}
    # 3 prior + 2 in-batch = 5 >= threshold: the line is scrubbed
    assert texts[1] == "fresh alpha" and texts[2] == "fresh beta"
    d = {r["lhash"]: r["doc_freq"] for r in deltas.collect()}
    assert 2 in set(d.values())  # the banner line's in-batch df
    # below threshold: nothing scrubbed
    scr2, _ = scrub_batch_against_ledger(batch, None, min_doc_freq=5)
    texts2 = {r["doc_id"]: r["text"] for r in scr2.collect()}
    assert "cookie banner" in texts2[1]


def test_boilerplate_ingest_across_waves_and_replay(spark, tmp_path):
    import os

    from model_presto_spark.streaming.boilerplate import (
        incremental_boilerplate_ingest,
    )

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "bcorpus")
    ledger = str(tmp_path / "bledger")
    ckpt = str(tmp_path / "bckpt")
    schema = "doc_id long, text string"
    os.makedirs(landing)

    def run():
        q = incremental_boilerplate_ingest(
            spark, landing, corpus, ledger, ckpt, schema, min_doc_freq=3
        )
        q.awaitTermination(120)

    # wave 1: the banner appears in 2 docs — below threshold, kept
    _wave(
        spark, [(1, "body one\nthe banner"), (2, "the banner\nbody two")]
    ).coalesce(1).write.mode("append").parquet(landing)
    run()
    texts = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert "the banner" in texts[1] and "the banner" in texts[2]

    # wave 2: one more sighting pushes the running frequency to 3 —
    # scrubbed from the NEW doc (old docs keep it: forward-only)
    _wave(spark, [(3, "the banner\nbody three")]).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    texts = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert texts[3] == "body three"
    assert "the banner" in texts[1]  # forward-only semantics

    # ledger merge-on-read: running frequency is 3
    led = (
        spark.read.parquet(ledger)
        .groupBy("lhash")
        .agg(F.sum("doc_freq").alias("df"))
        .collect()
    )
    assert 3 in {r["df"] for r in led}
