"""Conformance queries: training-data chunking and the end-to-end
ingest funnel (round 3).

q66 turns documents into fixed-size overlapping token chunks — the
standard shape handed to a tokenizer/packer in an LLM data pipeline
(window 64 tokens, stride 48, so 16 tokens of overlap). One explode
over a computed chunk count; no UDFs, no shuffle beyond the source
scan.

q67 is the composed ingest gate a corpus actually runs: raw ->
prefix-fingerprint dedup -> length gate -> alpha-ratio gate ->
stopword gate, reported as a funnel of surviving-document counts.
Every stage reuses the engine's oracle-parity expressions (h60
fingerprints, tokens, quality features), so the whole pipeline is
hash-checked end-to-end against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T
from model_presto_spark.plans.queries import _t, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

# ---------------------------------------------------------------------------
# Q66 — overlapping token chunking (window 64, stride 48)
# ---------------------------------------------------------------------------
_W, _S = 64, 48

_Q66_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             {DD_TOKENS.format(t='text')} AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             greatest(1, CAST(ceil((len(toks) - {_W}) / {_S}.0) AS BIGINT) + 1)
               AS n_chunks
      FROM t
    ), e AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM c
    )
    SELECT doc_id, chunk_idx,
           CAST(len(list_slice(toks, chunk_idx*{_S} + 1, chunk_idx*{_S} + {_W}))
                AS BIGINT) AS n_tokens,
           CAST(length(array_to_string(
                  list_slice(toks, chunk_idx*{_S} + 1, chunk_idx*{_S} + {_W}),
                  ' ')) AS BIGINT) AS chunk_chars
    FROM e
"""


@register(
    "q66_chunking",
    _Q66_ORACLE,
    doc="Overlapping token chunking (window 64, stride 48): each doc "
    "explodes into ceil((n-w)/s)+1 chunks; emits per-chunk token and "
    "character counts. Pure expressions (sequence + explode + slice); "
    "the tokenizer-feed shape of an LLM ingest pipeline.",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toksed = docs.select("doc_id", F.expr(T.tokens_sql("text")).alias("toks"))
    n = F.size("toks")
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((n - F.lit(_W)).cast("double") / float(_S)) + 1).cast("int"),
    )
    # explode_outer: the sequence is non-empty by construction
    # (n_chunks >= 1), and a plain explode would get the inferred
    # size>0 pre-filter that re-evaluates the token split per row.
    chunks = toksed.select(
        "doc_id",
        "toks",
        F.explode_outer(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    sl = F.slice(F.col("toks"), F.col("chunk_idx") * _S + 1, _W)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(sl).cast("bigint").alias("n_tokens"),
        F.length(F.array_join(sl, " ")).cast("bigint").alias("chunk_chars"),
    )


# ---------------------------------------------------------------------------
# Q67 — ingest funnel: raw -> dedup -> length -> alpha -> stopword
# ---------------------------------------------------------------------------
# Gate thresholds tuned against the synthetic corpus's feature
# distributions so EVERY stage drops rows (a vacuous funnel stage
# would make the oracle check meaningless): at sf0.01 the funnel is
# 500 -> 357 (prefix dedup) -> ~300 (length) -> ... monotone
# decreasing with real attrition at each gate.
_MIN_TOK, _MAX_TOK = 24, 5000
_MIN_ALPHA = 0.815
_MIN_STOP = 0.03
# dedup key: first-2-token boilerplate prefix (the exact fingerprint
# has zero collisions in the synthetic corpus — same reasoning as
# q55's blocking key; hashed to 60 bits so the shuffle ships 8-byte
# keys, not strings)
_PREFIX_TOKS = 2

_Q67_ORACLE = f"""
    WITH base0 AS (
      SELECT doc_id, text, {DD_TOKENS.format(t='text')} AS toks
      FROM documents
    ), base AS (
      SELECT doc_id, text, toks,
             CAST(('0x' || substr(md5(array_to_string(
                    list_slice(toks, 1, {_PREFIX_TOKS}), ' ')), 1, 15))
                  AS BIGINT) AS fp
      FROM base0
    ), dedup AS (
      SELECT * FROM base
      WHERE doc_id = (SELECT MIN(b2.doc_id) FROM base b2 WHERE b2.fp = base.fp)
    ), feat AS (
      SELECT doc_id, len(toks) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                            AS DOUBLE) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS alpha_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks,
                         t -> t IN ('the','and','of','to','a','in','is',
                                    'it','that','for')))
                       AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS stop_ratio
      FROM dedup
    ), s1 AS (SELECT COUNT(*) AS n FROM base),
       s2 AS (SELECT COUNT(*) AS n FROM dedup),
       s3 AS (SELECT COUNT(*) AS n FROM feat
              WHERE n_tok BETWEEN {_MIN_TOK} AND {_MAX_TOK}),
       s4 AS (SELECT COUNT(*) AS n FROM feat
              WHERE n_tok BETWEEN {_MIN_TOK} AND {_MAX_TOK}
                AND alpha_ratio >= {_MIN_ALPHA}),
       s5 AS (SELECT COUNT(*) AS n FROM feat
              WHERE n_tok BETWEEN {_MIN_TOK} AND {_MAX_TOK}
                AND alpha_ratio >= {_MIN_ALPHA} AND stop_ratio >= {_MIN_STOP})
    SELECT 1 AS stage, 'raw' AS gate, n FROM s1
    UNION ALL SELECT 2, 'prefix_dedup', n FROM s2
    UNION ALL SELECT 3, 'length', n FROM s3
    UNION ALL SELECT 4, 'alpha', n FROM s4
    UNION ALL SELECT 5, 'stopword', n FROM s5
"""


@register(
    "q67_ingest_funnel",
    _Q67_ORACLE,
    doc="End-to-end ingest gate funnel: raw -> prefix-fingerprint dedup "
    "(min-id per 60-bit hash of the 2-token boilerplate prefix) -> "
    "token-length gate -> alpha-ratio gate -> stopword-ratio gate, "
    "reported as surviving-document counts per stage. Composes the "
    "engine's oracle-parity dedup and quality expressions into the "
    "pipeline a corpus ingest actually runs; thresholds chosen so "
    "every stage has real attrition on the synthetic corpus.",
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toksed = docs.selectExpr("doc_id", "text", f"{T.tokens_sql('text')} AS toks")
    base = toksed.select(
        "doc_id",
        "text",
        "toks",
        F.expr(T.h60_sql(f"array_join(slice(toks, 1, {_PREFIX_TOKS}), ' ')")).alias(
            "fp"
        ),
    )
    # min-id representative per fingerprint: window-min beats a
    # groupBy+join re-attach (one shuffle, no second scan)
    from pyspark.sql import Window

    wmin = F.min("doc_id").over(Window.partitionBy("fp"))
    dedup = base.withColumn("__m", wmin).filter(F.col("doc_id") == F.col("__m"))
    feats = T.quality_features_sql("text", "toks")
    feat = dedup.selectExpr(
        "doc_id",
        "size(toks) AS n_tok",
        f"{feats['alpha_ratio']} AS alpha_ratio",
        f"{feats['stopword_ratio']} AS stop_ratio",
    )

    len_ok = F.col("n_tok").between(_MIN_TOK, _MAX_TOK)
    alpha_ok = len_ok & (F.col("alpha_ratio") >= _MIN_ALPHA)
    stop_ok = alpha_ok & (F.col("stop_ratio") >= _MIN_STOP)

    def cnt(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    # one conditional-aggregation pass over the gated relation (no
    # persist, no per-stage re-scan), unpivoted to funnel rows; the
    # raw pre-dedup count is its own scalar aggregate
    gates = feat.agg(
        F.count(F.lit(1)).alias("s2"),
        cnt(len_ok).alias("s3"),
        cnt(alpha_ok).alias("s4"),
        cnt(stop_ok).alias("s5"),
    )
    raw = base.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(1).alias("stage"), F.lit("raw").alias("gate"), "n"
    )
    funnel = gates.selectExpr(
        "stack(4, 2, 'prefix_dedup', s2, 3, 'length', s3, "
        "4, 'alpha', s4, 5, 'stopword', s5) AS (stage, gate, n)"
    )
    return raw.unionByName(funnel)


# ---------------------------------------------------------------------------
# Q70 — domain-mix planning + deterministic application
# ---------------------------------------------------------------------------
_Q70_BUDGET = 15_000

_Q70_ORACLE = f"""
    WITH tok AS (
      SELECT source, doc_id,
             len({DD_TOKENS.format(t='text')}) AS n_tok
      FROM documents
    ), plan AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens,
             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                  THEN 2.0 ELSE 1.0 END AS w
      FROM tok GROUP BY source
    ), norm AS (
      SELECT source,
             least(1.0, {_Q70_BUDGET}.0 * (w / SUM(w) OVER ())
                          / CAST(n_tokens AS DOUBLE)) AS keep_rate
      FROM plan
    ), applied AS (
      SELECT t.source, t.n_tok, p.keep_rate
      FROM tok t JOIN norm p USING (source)
      WHERE CAST(('0x' || substr(md5('mix#' || CAST(t.doc_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) % 1000000
            < CAST(floor(p.keep_rate * 1000000) AS BIGINT)
    )
    SELECT source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept,
           ROUND(ANY_VALUE(keep_rate) + 5e-12, 6) AS keep_rate
    FROM applied GROUP BY source
"""


@register(
    "q70_domain_mix",
    _Q70_ORACLE,
    doc="Domain-mix planning and application: per-source token totals "
    "-> share-normalized target weights -> capped keep rates toward a "
    "15k-token budget (operators/mixing.mix_plan), applied with the "
    "deterministic md5 hash coin (apply_mix; no RNG, cluster-size- "
    "and retry-invariant). Per-source kept docs/tokens and rate.",
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.mixing import apply_mix, mix_plan

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr("source", "doc_id", f"size({T.tokens_sql('text')}) AS n_tok")
    w = F.when(
        F.expr("CAST(substring(source, 4) AS INT)") % 2 == 0, F.lit(2.0)
    ).otherwise(F.lit(1.0))
    plan = mix_plan(tok, "source", w, F.col("n_tok"), _Q70_BUDGET)
    kept = apply_mix(tok, plan, "source", "doc_id")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").cast("bigint").alias("n_tokens_kept"),
        )
        .join(F.broadcast(plan.select("source", "keep_rate")), "source")
        .select(
            "source",
            "n_docs_kept",
            "n_tokens_kept",
            F.round(F.col("keep_rate") + 5e-12, 6).alias("keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Q71 — corpus unigram-LM perplexity quality signal (operators/lm.py)
# ---------------------------------------------------------------------------
_Q71_MIN_COUNT = 2

_Q71_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({DD_TOKENS.format(t='text')}) AS token
      FROM documents
    ), dtc AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ), vocab AS (
      SELECT token, SUM(cnt) AS tf FROM dtc GROUP BY 1
      HAVING SUM(cnt) >= {_Q71_MIN_COUNT}
    ), denom AS (
      SELECT (SELECT SUM(cnt) FROM dtc) AS n_corpus,
             (SELECT COUNT(*) FROM vocab) AS v_vocab
    ), scored AS (
      SELECT d.doc_id,
             -SUM(d.cnt * ln((COALESCE(v.tf, 0) + 1.0)
                             / (m.n_corpus + m.v_vocab + 1.0)))
               / SUM(d.cnt) / ln(2) AS bits_per_token,
             SUM(d.cnt) AS n_tokens,
             SUM(CASE WHEN v.tf IS NULL THEN d.cnt ELSE 0 END) * 1.0
               / SUM(d.cnt) AS oov_ratio
      FROM dtc d LEFT JOIN vocab v USING (token) CROSS JOIN denom m
      GROUP BY d.doc_id
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sc.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(sc.bits_per_token) + 5e-10, 4) AS avg_bits_per_token,
           ROUND(AVG(sc.oov_ratio) + 5e-12, 6) AS avg_oov_ratio
    FROM scored sc JOIN documents s USING (doc_id)
    GROUP BY s.source
"""


@register(
    "q71_perplexity",
    _Q71_ORACLE,
    doc="Corpus-fit unigram LM (add-one smoothing over the min_count-"
    "cut vocabulary + one OOV bucket) scoring every document's "
    "bits-per-token and OOV ratio - the CCNet-style perplexity "
    "quality signal - rolled up per source. operators/lm.py: one "
    "explode, posting-list persist, token-keyed co-located join, "
    "zero UDFs.",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.lm import perplexity_scores

    docs = _t(spark, sf_dir, "documents")
    scores = perplexity_scores(docs, min_count=_Q71_MIN_COUNT)
    return (
        scores.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("bits_per_token") + 5e-10, 4).alias(
                "avg_bits_per_token"
            ),
            F.round(F.avg("oov_ratio") + 5e-12, 6).alias("avg_oov_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Q73 — TF-IDF characteristic terms per source (operators/lm.py)
# ---------------------------------------------------------------------------
_Q73_K = 10

_Q73_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({DD_TOKENS.format(t='text')}) AS token
      FROM documents
    ), dtc AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT token, COUNT(*) AS dfq FROM dtc GROUP BY 1
    ), nd AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dtc
    ), src AS (
      SELECT d.source, t.token, SUM(t.cnt) AS tf_s
      FROM dtc t JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ), scored AS (
      SELECT s.source, s.token,
             s.tf_s * (ln((nd.n_docs + 1.0) / (f.dfq + 1.0)) + 1.0) AS score
      FROM src s JOIN dfreq f USING (token) CROSS JOIN nd
    ), ranked AS (
      SELECT source, token, score,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ROUND(score, 6) DESC, token
             ) AS rk
      FROM scored
    )
    SELECT source, CAST(rk AS INT) AS rank, token,
           ROUND(score + 5e-10, 4) AS score
    FROM ranked WHERE rk <= {_Q73_K}
"""


@register(
    "q73_tfidf",
    _Q73_ORACLE,
    doc="Top-10 characteristic terms per source by TF-IDF (group term "
    "frequency x smoothed inverse document frequency) - the domain-"
    "fingerprinting profile over the corpus posting list. Determinism: "
    "rank on (rounded score desc, token).",
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.lm import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=_Q73_K)


# ---------------------------------------------------------------------------
# Q74 — sequence packing (operators/packing.py, distributed prefix sum)
# ---------------------------------------------------------------------------
_Q74_L = 512

_Q74_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len({DD_TOKENS.format(t='text')}) AS n_tok,
             CAST(('0x' || substr(md5('pack#' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) AS rk
      FROM documents
    ), nz AS (
      SELECT * FROM t WHERE n_tok > 0
    ), cum AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY rk, doc_id
                              ROWS UNBOUNDED PRECEDING) AS tok_end
      FROM nz
    ), spans AS (
      SELECT doc_id, n_tok, tok_end, tok_end - n_tok AS s,
             unnest(generate_series(
               CAST(FLOOR((tok_end - n_tok) / {_Q74_L}.0) AS BIGINT),
               CAST(FLOOR((tok_end - 1) / {_Q74_L}.0) AS BIGINT))) AS bin_id
      FROM cum
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(tok_end, (bin_id + 1) * {_Q74_L})
                    - GREATEST(s, bin_id * {_Q74_L})) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN s < bin_id * {_Q74_L} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carried
    FROM spans GROUP BY bin_id
"""


@register(
    "q74_seq_packing",
    _Q74_ORACLE,
    doc="GPT-style sequence packing: documents laid end-to-end in "
    "deterministic h60 order, token stream cut every 512 tokens "
    "(documents split at boundaries). Spark side runs the two-phase "
    "distributed prefix sum (operators/packing.py) - no global-order "
    "single-task window; the oracle states the equivalent global "
    "window. Per-bin docs/tokens/carried-doc counts.",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    lens = docs.selectExpr("doc_id", f"size({T.tokens_sql('text')}) AS n_tok")
    packed = pack_sequences(lens, "n_tok", _Q74_L)
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_in_bin").cast("bigint").alias("n_tokens"),
        F.sum(F.col("carried").cast("int")).cast("bigint").alias("n_carried"),
    )


# ---------------------------------------------------------------------------
# Q78 — weighted sampling without replacement (splits.weighted_hash_sample)
# ---------------------------------------------------------------------------
_Q78_K = 15

_Q78_ORACLE = f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             -ln((CAST(('0x' || substr(md5('wsmp#' || CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0)
               / n_chars AS wk
      FROM documents
    ), ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY wk, doc_id) AS sample_rank
      FROM keyed
    )
    SELECT source, doc_id, CAST(n_chars AS INT) AS n_chars,
           CAST(sample_rank AS INT) AS sample_rank
    FROM ranked WHERE sample_rank <= {_Q78_K}
"""


@register(
    "q78_weighted_sample",
    _Q78_ORACLE,
    doc="Efraimidis-Spiridakis weighted sampling without replacement, "
    "deterministic: exponential-race key -ln(u)/w with the md5-derived "
    "uniform, 15 docs per source weighted by n_chars. Reproducible "
    "across engines/cluster sizes and mergeable (per-partition top-k "
    "then global top-k on the same key).",
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.splits import weighted_hash_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_hash_sample(
        docs.select("source", "doc_id", "n_chars"),
        "doc_id", "n_chars", _Q78_K, strata_cols=["source"],
    ).select(
        "source", "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        "sample_rank",
    )


# ---------------------------------------------------------------------------
# Q82 — epoch-aware mix application (up-sampling; mixing.apply_mix_epochs)
# ---------------------------------------------------------------------------
_Q82_BUDGET = 200_000  # >> corpus tokens at sf0.01 so weighted sources up-sample
_Q82_EPOCHS = 3.0

_Q82_ORACLE = f"""
    WITH tok AS (
      SELECT source, doc_id,
             len({DD_TOKENS.format(t='text')}) AS n_tok
      FROM documents
    ), plan AS (
      SELECT source, SUM(n_tok) AS n_tokens,
             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                  THEN 2.0 ELSE 1.0 END AS w
      FROM tok GROUP BY source
    ), norm AS (
      SELECT source,
             least({_Q82_EPOCHS}, {_Q82_BUDGET}.0 * (w / SUM(w) OVER ())
                          / CAST(n_tokens AS DOUBLE)) AS keep_rate
      FROM plan
    ), counted AS (
      SELECT t.source, t.n_tok, p.keep_rate,
             CAST(floor(p.keep_rate) AS BIGINT)
             + CASE WHEN CAST(('0x' || substr(md5('mix#'
                        || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 1000000
                    < CAST(floor((p.keep_rate - floor(p.keep_rate))
                                 * 1000000) AS BIGINT)
                    THEN 1 ELSE 0 END AS n_copies
      FROM tok t JOIN norm p USING (source)
    ), exploded AS (
      SELECT source, n_tok, keep_rate,
             unnest(generate_series(1, n_copies)) AS epoch
      FROM counted WHERE n_copies > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_instances,
           CAST(SUM(n_tok) AS BIGINT) AS n_token_instances,
           CAST(MAX(epoch) AS INT) AS max_epoch,
           ROUND(ANY_VALUE(keep_rate) + 5e-12, 6) AS keep_rate
    FROM exploded GROUP BY source
"""


@register(
    "q82_mix_epochs",
    _Q82_ORACLE,
    doc="Epoch-aware domain mix: budget >> corpus so high-weight "
    "sources up-sample past 1.0 (floor(rate) full copies + hash-coin "
    "fractional copy, deterministic, O(1)/row; epoch column indexes "
    "the copies). Per-source instance/token counts and max epoch.",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.mixing import apply_mix_epochs, mix_plan

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr("source", "doc_id", f"size({T.tokens_sql('text')}) AS n_tok")
    w = F.when(
        F.expr("CAST(substring(source, 4) AS INT)") % 2 == 0, F.lit(2.0)
    ).otherwise(F.lit(1.0))
    plan = mix_plan(tok, "source", w, F.col("n_tok"), _Q82_BUDGET,
                    max_epochs=_Q82_EPOCHS)
    kept = apply_mix_epochs(tok, plan, "source", "doc_id")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_instances"),
            F.sum("n_tok").cast("bigint").alias("n_token_instances"),
            F.max("epoch").cast("int").alias("max_epoch"),
        )
        .join(F.broadcast(plan.select("source", "keep_rate")), "source")
        .select(
            "source", "n_instances", "n_token_instances", "max_epoch",
            F.round(F.col("keep_rate") + 5e-12, 6).alias("keep_rate"),
        )
    )
