"""Line-level boilerplate removal (CCNet / RefinedWeb recipe).

Web corpora carry per-SITE boilerplate — navigation text, cookie
banners, footers — that repeats across many documents but is not a
document-level duplicate, so MinHash/SimHash (operators/dedup.py)
and span dedup (Lee et al., same file) never remove it. The CCNet
preprocessing (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data") and RefinedWeb (Penedo et
al.) both drop *lines* whose normalized form appears in at least
``min_doc_freq`` distinct documents.

Mechanics here (reference analog: the reference dedups whole shard
records by key at `presto-tolbi/presto/dataops/dataset.py:63-117`;
sub-record cleaning is the corpus-scale generalization):

- Documents segment into lines either by a delimiter regex
  (real corpora: ``\\n``) or by fixed non-overlapping token windows
  (delimiter-free text, e.g. the driver's synthetic documents).
- Each line is normalized (lowercase, collapse whitespace) and
  reduced to a 60-bit hash (functions/text.fingerprint60_sql) — only
  8-byte keys ever shuffle, never line text.
- Document frequency per line hash = COUNT(DISTINCT doc) — computed
  as two cascaded aggregations (exact, map-side combinable), not
  ``countDistinct`` over raw rows.
- A line is boilerplate iff its doc frequency >= ``min_doc_freq``.

Scale shape: the posting-list pattern (same as span_dup_stats /
operators/lm.py) — one explode of hashes, two groupBys on 8-byte
keys, one co-located join back. Never O(n^2); hot lines (the whole
point: some lines appear in thousands of docs) aggregate, they do
not join-explode.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.text import fingerprint60_sql, tokens_sql


def segment_by_delimiter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
) -> DataFrame:
    """(id, line_no, line): split on a literal delimiter, keeping
    original order; empty/whitespace-only lines are dropped (they are
    never content and would dominate doc frequency)."""
    from model_presto_spark.io import spread

    parts = F.split(F.col(text_col), F.lit(delimiter), -1)
    # spread: split+explode is pre-shuffle CPU (1-partition scans)
    out = spread(docs).select(
        id_col, F.posexplode(parts).alias("line_no", "line")
    )
    return out.where(F.trim("line") != "")


def segment_by_width(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
) -> DataFrame:
    """(id, line_no, line): consecutive NON-overlapping ``width``-token
    windows (the delimiter-free segmentation; the final short remnant
    is kept as its own line). line_no is 0-based."""
    from model_presto_spark.io import spread

    # spread: tokenize + window segmentation is pre-shuffle CPU
    toksed = spread(docs).selectExpr(id_col, f"{tokens_sql(text_col)} AS toks")
    n = F.size("toks")
    # Empty docs are dropped by an EXPLICIT cheap filter so the
    # explode can be _outer: a plain explode would get an inferred
    # size(idx)>0 pre-filter that rebuilds the whole index sequence
    # per row; after filtering n>0 the sequence is never empty.
    idx = F.sequence(F.lit(0).cast("bigint"), F.floor((n - 1) / F.lit(width)))
    seg = toksed.filter(n > 0).select(
        id_col, "toks", F.explode_outer(idx).alias("line_no")
    )
    return seg.select(
        id_col,
        F.col("line_no").cast("int").alias("line_no"),
        F.array_join(
            F.slice(F.col("toks"), (F.col("line_no") * width + 1).cast("int"), width),
            " ",
        ).alias("line"),
    )


def line_doc_freq(
    lines: DataFrame, id_col: str = "doc_id", fast_hash: bool = False
) -> DataFrame:
    """(lhash, doc_freq): distinct-document count per normalized line.

    Exact COUNT(DISTINCT doc) via two cascaded aggregations — the
    first (lhash, id) groupBy collapses within-doc repeats map-side,
    so the second sees one row per (line, doc) pair.
    """
    h = F.expr(fingerprint60_sql("line", fast=fast_hash))
    per_doc = lines.select(F.col(id_col).alias("id"), h.alias("lhash")).groupBy(
        "lhash", "id"
    ).agg(F.count(F.lit(1)).alias("_c"))
    return per_doc.groupBy("lhash").agg(F.count(F.lit(1)).alias("doc_freq"))


def line_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
    delimiter: str | None = "\n",
    width: int = 10,
    fast_hash: bool = False,
) -> DataFrame:
    """Per-document boilerplate statistics.

    Returns (id, n_lines, boiler_lines, boiler_fraction): a line is
    boilerplate iff its normalized form occurs in >= ``min_doc_freq``
    distinct documents. ``delimiter=None`` switches to fixed
    ``width``-token segmentation. Every input document appears in the
    output (zero lines => fraction 0.0).
    """
    lines = (
        segment_by_delimiter(docs, id_col, text_col, delimiter)
        if delimiter is not None
        else segment_by_width(docs, id_col, text_col, width)
    )
    h = F.expr(fingerprint60_sql("line", fast=fast_hash))
    hashed = lines.select(F.col(id_col).alias("id"), h.alias("lhash"))
    # feeds the doc-freq aggregate AND the join back — persist so the
    # tokenize+hash pass over the corpus runs once
    hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
    per_doc = hashed.groupBy("lhash", "id").agg(F.count(F.lit(1)).alias("cnt"))
    df_freq = per_doc.groupBy("lhash").agg(F.count(F.lit(1)).alias("doc_freq"))
    stats = (
        per_doc.join(df_freq, "lhash")  # both sides partitioned on lhash
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.sum(
                F.when(F.col("doc_freq") >= min_doc_freq, F.col("cnt")).otherwise(0)
            ).alias("boiler_lines"),
        )
    )
    out = docs.select(F.col(id_col).alias("id")).join(stats, "id", "left")
    nl = F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint")
    bl = F.coalesce(F.col("boiler_lines"), F.lit(0)).cast("bigint")
    return out.select(
        F.col("id").alias(id_col),
        nl.alias("n_lines"),
        bl.alias("boiler_lines"),
        F.when(nl > 0, bl.cast("double") / nl.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("boiler_fraction"),
    )


def remove_frequent_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
    delimiter: str | None = "\n",
    width: int = 10,
    fast_hash: bool = True,
) -> DataFrame:
    """Rebuild each document without its boilerplate lines.

    Output: (id, <text_col> cleaned, n_lines_kept, n_lines). Line
    order is preserved via line_no; the reassembly join is keyed on
    (id) with the boilerplate decision carried per line — one
    doc-freq aggregate, one hash-keyed join, one groupBy(id) with
    order restored by array_sort on (line_no, line) structs.
    """
    lines = (
        segment_by_delimiter(docs, id_col, text_col, delimiter)
        if delimiter is not None
        else segment_by_width(docs, id_col, text_col, width)
    )
    h = F.expr(fingerprint60_sql("line", fast=fast_hash))
    hashed = lines.select(
        F.col(id_col).alias("id"), "line_no", "line", h.alias("lhash")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    df_freq = line_doc_freq(
        hashed.select(F.col("id").alias(id_col), "line"), id_col, fast_hash
    )
    kept = (
        hashed.join(df_freq, "lhash")
        .where(F.col("doc_freq") < min_doc_freq)
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("line_no", "line"))
            ).alias("segs"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )
    totals = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
    sep = "\n" if delimiter is not None else " "
    out = totals.join(kept, "id", "left")
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce(
            F.array_join(
                F.transform(F.col("segs"), lambda s: s["line"]), sep
            ),
            F.lit(""),
        ).alias(text_col),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("bigint").alias(
            "n_lines_kept"
        ),
        F.col("n_lines").cast("bigint").alias("n_lines"),
    )
