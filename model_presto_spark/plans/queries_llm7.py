"""Conformance queries: LLM-data-pipeline batch #7 (q354+) —
quality-aware dedup retention, packing fragmentation, keyword-in-
context extraction, dictionary tagging, and chunk-overlap chain
detection.

All token work rides the shared whitespace-token convention
(functions.text.tokens_sql == DD_TOKENS) and the md5 60-bit fingerprint
(h60_sql == DD_H60), so every query restates exactly in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T
from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

_TOK = DD_TOKENS.format(t="text")


# ---------------------------------------------------------------------------
# Q354 — quality-aware dedup retention (keep the longest, not the min-id)
# ---------------------------------------------------------------------------
# Same cluster key as the ingest-funnel prefix dedup (12-token lead
# fingerprint), but the retention policy keeps the highest-quality
# member (longest doc, id tiebreak) instead of the smallest id —
# the policy real pipelines want when near-dups differ in
# completeness.  One window per fingerprint, one rollup.
_Q354_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             CAST(('0x' || substr(md5(array_to_string(
               list_slice({_TOK}, 1, 12), ' ')), 1, 15)) AS BIGINT) AS fp
      FROM documents
    ), ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY fp
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM ranked GROUP BY source ORDER BY source
"""


@register(
    "q354_keep_best_dedup",
    _Q354_ORACLE,
    doc="Dedup retention by quality: prefix-fingerprint clusters "
    "keep their LONGEST member (n_chars desc, id tiebreak) instead "
    "of min-id — one fingerprint-keyed window (8-byte key, bodies "
    "never shuffle beyond their length), one source rollup.  The "
    "argmax-representative policy of completeness-aware dedup.",
)
def q354(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = F.expr(T.h60_sql(f"array_join(slice({T.tokens_sql('text')}, 1, 12), ' ')"))
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = docs.select(
        "doc_id", "source", "n_chars", fp.alias("fp")
    ).withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q355 — packing attention fragmentation
# ---------------------------------------------------------------------------
# Quality metric for the q74 packing layout: fragmentation of a bin
# = probability two uniformly-random positions fall in DIFFERENT
# documents = 1 - sum(seg^2)/T^2.  This is the number packing
# policies are tuned on (it bounds the cross-document attention
# waste when training without document masks).  Same distributed
# prefix-sum plan as q74 plus one integer power sum.
_Q355_L = 512

_Q355_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, len({_TOK}) AS n_tok,
             CAST(('0x' || substr(md5('pack#' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) AS rk
      FROM documents
    ), nz AS (SELECT * FROM t WHERE n_tok > 0),
    cum AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY rk, doc_id
                              ROWS UNBOUNDED PRECEDING) AS tok_end
      FROM nz
    ), spans AS (
      SELECT tok_end, tok_end - n_tok AS s,
             unnest(generate_series(
               CAST(FLOOR((tok_end - n_tok) / {_Q355_L}.0) AS BIGINT),
               CAST(FLOOR((tok_end - 1) / {_Q355_L}.0) AS BIGINT))) AS bin_id
      FROM cum
    ), segs AS (
      SELECT bin_id,
             LEAST(tok_end, (bin_id + 1) * {_Q355_L})
               - GREATEST(s, bin_id * {_Q355_L}) AS seg
      FROM spans
    )
    SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(seg) AS BIGINT) AS n_tokens,
           ROUND(1 - SUM(seg * seg) * 1.0 / (SUM(seg) * SUM(seg)) + 5e-12, 6)
             AS fragmentation
    FROM segs GROUP BY bin_id ORDER BY bin_id
"""


@register(
    "q355_packing_fragmentation",
    _Q355_ORACLE,
    doc="Attention fragmentation per packed bin (1 - sum(seg^2)/T^2 "
    "= chance two random positions cross a document boundary): the "
    "q74 two-phase distributed prefix-sum packing plus one integer "
    "power sum — the metric GPT-style packing policies are tuned "
    "on, exact across engines because segments are integers.",
)
def q355(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    lens = docs.select("doc_id", F.size(F.expr(T.tokens_sql("text"))).alias("n_tok"))
    packed = pack_sequences(lens, "n_tok", _Q355_L)
    seg = F.col("n_tokens_in_bin")
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(seg).cast("bigint").alias("n_tokens"),
            r6(
                1
                - F.sum(seg * seg)
                * 1.0
                / (F.sum(seg) * F.sum(seg))
            ).alias("fragmentation"),
        )
        .orderBy("bin_id")
    )


# ---------------------------------------------------------------------------
# Q356 — keyword-in-context (KWIC) extraction
# ---------------------------------------------------------------------------
# Concordance tooling: the +-20-char window around each document's
# first occurrence of a keyword.  Pure position arithmetic
# (1-based locate + bounded substring — identical semantics in both
# engines), no regex, no UDF.
_Q356_KW = "vector"
_Q356_CTX = 20

_Q356_ORACLE = f"""
    WITH hit AS (
      SELECT doc_id, strpos(lower(text), '{_Q356_KW}') AS pos, text
      FROM documents WHERE strpos(lower(text), '{_Q356_KW}') > 0
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           substr(text, CAST(GREATEST(1, pos - {_Q356_CTX}) AS BIGINT),
                  CAST(pos - GREATEST(1, pos - {_Q356_CTX})
                       + {len(_Q356_KW)} + {_Q356_CTX} AS BIGINT)) AS kwic
    FROM hit ORDER BY doc_id LIMIT 200
"""


@register(
    "q356_kwic",
    _Q356_ORACLE,
    doc="Keyword-in-context concordance: first occurrence position "
    "(1-based instr) + a clamped substring window around it — "
    "corpus-inspection tooling as pure position arithmetic, scan-"
    "local (no shuffle before the final order-limit).",
)
def q356(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pos = F.instr(F.lower(F.col("text")), _Q356_KW)
    hit = docs.select("doc_id", pos.alias("pos"), "text").filter(
        F.col("pos") > 0
    )
    start = F.greatest(F.lit(1), F.col("pos") - _Q356_CTX)
    ln = F.col("pos") - start + len(_Q356_KW) + _Q356_CTX
    return (
        hit.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.substring(F.col("text"), start, ln).alias("kwic"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Q357 — dictionary tagging (posting-list shape)
# ---------------------------------------------------------------------------
# Document frequency of a controlled vocabulary per language.  The
# scale-correct plan: tokens dedup per doc, explode ONCE, filter to
# the broadcast keyword list, aggregate — never one corpus pass per
# keyword.
_Q357_KWS = ["spark", "table", "join", "vector", "stream", "window"]

_Q357_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, list_distinct({_TOK}) AS tk FROM documents
    ), hits AS (
      SELECT lang,
             unnest(list_filter(tk, x -> list_contains(
               {_Q357_KWS!r}, x))) AS kw
      FROM toks
    )
    SELECT kw AS keyword, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM hits GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "q357_keyword_tagging",
    _Q357_ORACLE,
    doc="Controlled-vocabulary tagging: per-doc distinct tokens "
    "explode once and filter against the plan-literal keyword list "
    "— one corpus pass for ANY dictionary size (the posting-list "
    "shape), vs the naive one-LIKE-per-keyword rescan.  Per "
    "(keyword, lang) document frequency.",
)
def q357(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.array_distinct(F.expr(T.tokens_sql("text"))).alias("tk")
    )
    return (
        toks.select("lang", F.explode_outer("tk").alias("keyword"))
        .filter(F.col("keyword").isin(_Q357_KWS))
        .groupBy("keyword", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("keyword", "lang")
    )


# ---------------------------------------------------------------------------
# Q358 — chunk-overlap chain detection (tail-fp == head-fp join)
# ---------------------------------------------------------------------------
# Overlapping-crawl detection: chunked ingestion with stride <
# window produces pairs where one chunk's TAIL tokens equal the
# next chunk's HEAD tokens.  The detector joins 8-token tail
# fingerprints against head fingerprints — a directed overlap
# geometry neither Jaccard nor containment dedup sees.  The chunk
# relation is built in-plan (24-token windows, stride 16) from docs
# with >= 40 tokens, so every such doc plants exactly one true
# chain; cross-doc links measure the coincidence rate of the tiny
# synthetic vocabulary.
_Q358_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS tk FROM documents
    ), eligible AS (SELECT * FROM toks WHERE len(tk) >= 40),
    chunks AS (
      SELECT doc_id, 1 AS chunk_id, list_slice(tk, 1, 24) AS ck FROM eligible
      UNION ALL
      SELECT doc_id, 2 AS chunk_id, list_slice(tk, 17, 40) AS ck FROM eligible
    ), fps AS (
      SELECT doc_id, chunk_id,
             CAST(('0x' || substr(md5(array_to_string(
               list_slice(ck, 1, 8), ' ')), 1, 15)) AS BIGINT) AS head_fp,
             CAST(('0x' || substr(md5(array_to_string(
               list_slice(ck, 17, 24), ' ')), 1, 15)) AS BIGINT) AS tail_fp
      FROM chunks
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(SUM(CASE WHEN a.doc_id = b.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_doc,
           CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs_chained
    FROM fps a JOIN fps b ON a.tail_fp = b.head_fp
     AND (a.doc_id <> b.doc_id OR a.chunk_id <> b.chunk_id)
"""


@register(
    "q358_chunk_overlap",
    _Q358_ORACLE,
    doc="Overlapping-chunk chain detection: 8-token tail fingerprints "
    "equi-join head fingerprints (8-byte keys, one shuffle) over an "
    "in-plan chunked corpus (24-token windows, stride 16) — the "
    "directed suffix/prefix overlap geometry of stride-chunked "
    "crawls, which symmetric dedup metrics miss.  Same-doc links "
    "recover every planted chain; cross-doc links expose the "
    "fingerprint coincidence rate.",
)
def q358(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(T.tokens_sql("text")).alias("tk")).filter(
        F.size("tk") >= 40
    )
    c1 = toks.select(
        "doc_id", F.lit(1).alias("chunk_id"), F.slice("tk", 1, 24).alias("ck")
    )
    c2 = toks.select(
        "doc_id", F.lit(2).alias("chunk_id"), F.slice("tk", 17, 24).alias("ck")
    )
    chunks = c1.unionByName(c2)
    fps = chunks.select(
        "doc_id",
        "chunk_id",
        F.expr(T.h60_sql("array_join(slice(ck, 1, 8), ' ')")).alias("head_fp"),
        F.expr(T.h60_sql("array_join(slice(ck, 17, 8), ' ')")).alias("tail_fp"),
    )
    a = fps.select(
        F.col("doc_id").alias("a_doc"),
        F.col("chunk_id").alias("a_chunk"),
        F.col("tail_fp").alias("a_tail"),
    )
    b = fps.select(
        F.col("doc_id").alias("b_doc"),
        F.col("chunk_id").alias("b_chunk"),
        F.col("head_fp").alias("b_head"),
    )
    return (
        a.join(
            b,
            (F.col("a_tail") == F.col("b_head"))
            & (
                (F.col("a_doc") != F.col("b_doc"))
                | (F.col("a_chunk") != F.col("b_chunk"))
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum(F.when(F.col("a_doc") == F.col("b_doc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_same_doc"),
            F.count_distinct(F.col("a_doc")).alias("n_docs_chained"),
        )
    )
