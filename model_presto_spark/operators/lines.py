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
  8-byte keys ever shuffle, never line text. ``_hashed_lines`` is the
  one segment-and-fingerprint step, shared with the streaming
  scrubber (streaming/boilerplate.py), so each line is hashed once.
- Document frequency per line hash = COUNT(DISTINCT doc) — computed
  as two cascaded aggregations (exact, map-side combinable), not
  ``countDistinct`` over raw rows.
- A line is boilerplate iff its doc frequency >= ``min_doc_freq``.

Scale shape: the posting-list pattern — one explode of hashes, two
groupBys on 8-byte keys, one co-located join back. Never O(n^2); hot
lines (the whole point: some lines appear in thousands of docs)
aggregate, they do not join-explode. ``line_dedup_stats`` is the
repeated-unit stats core of span dedup and winnowing
(operators/dedup._repeat_stats) over line hashes, counting documents;
``remove_frequent_lines`` and the streaming scrubber rebuild the kept
lines with one ordered rebuild (``_kept_lines``). Every input
document comes back, one without lines as empty text.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.text import fingerprint60_sql, tokens_sql
from model_presto_spark.operators.dedup import _repeat_stats


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


def _hashed_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str | None,
    width: int,
    fast_hash: bool,
) -> DataFrame:
    """(id, line_no, line, lhash): each non-blank line with its
    fingerprint — cut on ``delimiter``, or into ``width``-token
    windows when it is None. The one place a line is hashed."""
    lines = (
        segment_by_delimiter(docs, id_col, text_col, delimiter)
        if delimiter is not None
        else segment_by_width(docs, id_col, text_col, width)
    )
    h = F.expr(fingerprint60_sql("line", fast=fast_hash))
    return lines.select(id_col, "line_no", "line", h.alias("lhash"))


def line_doc_freq(hashed: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(lhash, doc_freq): distinct-document count per line hash of the
    (id, lhash) rows ``hashed``.

    Exact COUNT(DISTINCT doc) via two cascaded aggregations — the
    first (lhash, id) groupBy collapses within-doc repeats map-side,
    so the second sees one row per (line, doc) pair.
    """
    per_doc = hashed.groupBy("lhash", id_col).agg(F.count(F.lit(1)).alias("_c"))
    return per_doc.groupBy("lhash").agg(F.count(F.lit(1)).alias("doc_freq"))


def _kept_lines(
    hashed: DataFrame, boiler: DataFrame, id_col: str, delimiter: str | None
) -> DataFrame:
    """(id, __kept, n_lines_kept, n_lines) per document with lines: its
    lines whose hash is not in ``boiler`` (lhash), rejoined in line
    order by the separator the segmentation cut on — one join against
    the (small) boilerplate set and one groupBy(id), order restored by
    array_sort on (line_no, line) structs."""
    cut = boiler.select("lhash", F.lit(True).alias("__cut"))
    # a cut line is a NULL struct, which collect_list and count skip
    seg = F.when(F.col("__cut").isNull(), F.struct("line_no", "line"))
    sep = "\n" if delimiter is not None else " "
    return (
        hashed.join(cut, "lhash", "left")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(seg)), lambda s: s["line"]),
                sep,
            ).alias("__kept"),
            F.count(seg).alias("n_lines_kept"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


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
    hashed = _hashed_lines(docs, id_col, text_col, delimiter, width, fast_hash)
    return _repeat_stats(
        docs, hashed, id_col, "lhash", "count(1)", min_doc_freq,
        ("n_lines", "boiler_lines", "boiler_fraction"),
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

    Output: (id, <text_col> cleaned, n_lines_kept, n_lines) for every
    input document; one without a non-blank line gets "" and 0/0.
    """
    # hashed feeds the doc-freq aggregate AND the join back — persist
    # so the segment+hash pass over the corpus runs once
    hashed = _hashed_lines(
        docs, id_col, text_col, delimiter, width, fast_hash
    ).persist(StorageLevel.MEMORY_AND_DISK)
    boiler = line_doc_freq(hashed, id_col).where(F.col("doc_freq") >= min_doc_freq)
    kept = _kept_lines(hashed, boiler, id_col, delimiter)
    out = docs.select(id_col).join(kept, id_col, "left")
    return out.select(
        id_col,
        F.coalesce(F.col("__kept"), F.lit("")).alias(text_col),
        *(
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("n_lines_kept", "n_lines")
        ),
    )
