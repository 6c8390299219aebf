"""Conformance queries: LLM-pipeline family #6 (q169+) — dedup
threshold-sweep planning curve, n-gram novelty profile (memorization
screen), winsorized robust scaling. Oracle conventions as everywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register
from model_presto_spark.plans.queries_docs import (
    dd_hash_array,
    dd_minhash,
    dd_shingles,
    dd_tokens,
)

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q169 — dedup threshold-sweep curve (corpus-planning over LSH candidates)
# ---------------------------------------------------------------------------
# One LSH candidate generation at a permissive floor (0.3), one exact
# Jaccard verify — then the whole threshold curve is a broadcast-size
# literal sweep over the scored pair relation. Removal counts use the
# pairwise remove-the-larger-id convention; the transitive-closure
# removal set is q55's job, this is the tuning curve that sizes it.
_Q169_FLOOR = 0.3
_Q169_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)

_DD_SH = dd_shingles("text", 5)
_DD_SIG = dd_minhash("hs", 16)
_Q169_JAC = (
    "CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) "
    "/ (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))"
)

_Q169_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id AS id, {dd_hash_array(_DD_SH)} AS hs FROM documents
    ), sig AS (
      SELECT id, hs, {_DD_SIG} AS sig FROM sh
    ), banded AS (
      SELECT id, hs, b.band,
             md5(array_to_string(
               list_transform(sig[b.band * 4 + 1 : b.band * 4 + 4],
                              x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.hs AS sh_a, b.hs AS sh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ), scored AS (
      SELECT id_a, id_b, {_Q169_JAC} AS jac
      FROM cand WHERE {_Q169_JAC} >= {_Q169_FLOOR}
    ), th AS (
      SELECT UNNEST([{', '.join(f'CAST({t} AS DOUBLE)' for t in _Q169_THRESHOLDS)}])
        AS threshold
    )
    SELECT th.threshold,
           CAST(SUM(CASE WHEN s.jac >= th.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN s.jac >= th.threshold
                                    THEN s.id_b END) AS BIGINT) AS n_removed
    FROM th CROSS JOIN scored s
    GROUP BY th.threshold
    ORDER BY th.threshold
"""


@register(
    "q169_dedup_curve",
    _Q169_ORACLE,
    doc="Dedup threshold-sweep planning curve: MinHash/LSH candidates "
    "generated ONCE at a permissive 0.3 floor (operators/dedup."
    "minhash_lsh_pairs), exact-Jaccard verified once, then pair and "
    "removed-doc counts for thresholds 0.3-0.9 via a literal sweep "
    "over the scored relation — the corpus-planning query answering "
    "'how much does each dedup threshold cost?' without re-running "
    "candidate generation per threshold. Pairwise remove-larger-id "
    "convention (the transitive set is q55's CC).",
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        threshold=_Q169_FLOOR,
        # oracle contract: exact unscreened candidate semantics
        signature_screen=None,
    ).localCheckpoint(eager=False)
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in _Q169_THRESHOLDS])
        ).alias("threshold")
    )
    return (
        th.crossJoin(pairs)
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("jaccard_sim") >= F.col("threshold"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pairs"),
            F.countDistinct(
                F.when(
                    F.col("jaccard_sim") >= F.col("threshold"), F.col("id_b")
                )
            )
            .cast("bigint")
            .alias("n_removed"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Q170 — n-gram novelty profile (memorization / cross-doc repetition)
# ---------------------------------------------------------------------------
_Q170_GRAMS = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len({toks}) - 2, 1)), "
    "i -> array_to_string({toks}[i:i+2], ' ')))"
).format(toks=dd_tokens("text"))

_Q170_ORACLE = f"""
    WITH g AS (
      SELECT doc_id, source,
             list_distinct({dd_hash_array(_Q170_GRAMS)}) AS grams
      FROM documents
    ), posting AS (
      SELECT doc_id, source, UNNEST(grams) AS gram FROM g
    ), firsts AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM posting GROUP BY gram
    ), per_doc AS (
      SELECT p.doc_id, p.source,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM posting p JOIN firsts f ON p.gram = f.gram
      GROUP BY p.doc_id, p.source
    )
    SELECT doc_id, source, n_grams,
           {_R6.format(x='CAST(n_novel AS DOUBLE) / n_grams')} AS novelty
    FROM per_doc
    ORDER BY doc_id
"""


@register(
    "q170_ngram_novelty",
    _Q170_ORACLE,
    doc="Per-doc 3-gram novelty: fraction of a doc's distinct grams "
    "whose FIRST corpus occurrence (min doc_id) is the doc itself — "
    "the streaming-order memorization screen (low novelty = mostly "
    "repeating earlier corpus text; complements q61's within-doc "
    "repetition and q104's pairwise containment). One inverted index "
    "of 8-byte gram hashes: grams -> min-doc aggregation -> posting "
    "join back; gram postings shuffle once, bodies never.",
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import (
        hash_array_sql,
        tokens_sql,
        word_ngrams_sql,
    )

    docs = _t(spark, sf_dir, "documents")
    toksed = docs.selectExpr("doc_id", "source", f"{tokens_sql('text')} AS toks")
    g = toksed.select(
        "doc_id",
        "source",
        F.expr(
            f"array_distinct({hash_array_sql(word_ngrams_sql('toks', 3))})"
        ).alias("grams"),
    )
    # explode_outer + IS NOT NULL, not explode: plain explode's
    # inferred size()>0 filter would re-evaluate the whole hash
    # pipeline per row; a zero-token doc's empty array gives one NULL
    # gram, dropped here (it has no grams, as in the oracle)
    posting = g.select(
        "doc_id", "source", F.explode_outer("grams").alias("gram")
    ).where("gram IS NOT NULL")
    # partition-wide window min instead of a groupBy + join-back: the
    # posting relation (and its md5 gram hashing) is scanned ONCE —
    # one shuffle on the gram hash, then one on the doc key
    from pyspark.sql import Window

    w = Window.partitionBy("gram")
    per_doc = (
        posting.withColumn("first_doc", F.min("doc_id").over(w))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_grams",
        r6(F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q171 — winsorized robust scaling per source
# ---------------------------------------------------------------------------
_Q171_ORACLE = f"""
    WITH b AS (
      SELECT source,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.50) AS med,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source,
           {_R6.format(x='least(greatest(CAST(d.n_chars AS DOUBLE), b.p05), b.p95)')}
             AS clipped,
           {_R6.format(x='(least(greatest(CAST(d.n_chars AS DOUBLE), b.p05), '
                         'b.p95) - b.med) / (b.p95 - b.p05)')} AS scaled
    FROM documents d JOIN b USING (source)
    WHERE b.p95 > b.p05
    ORDER BY d.doc_id
"""


@register(
    "q171_winsorized_scaler",
    _Q171_ORACLE,
    doc="Winsorized robust scaler per source: clip n_chars to the "
    "per-source [p05, p95] band, center on the median, scale by the "
    "inter-quantile range — the outlier-proof feature normalizer "
    "(robust twin of z-scaling; exact percentile for oracle parity, "
    "approx_percentile at corpus scale). The per-source bounds are a "
    "#sources-row relation broadcast back onto the scan.",
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    b = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.50)").alias("med"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")
    )
    return (
        docs.join(F.broadcast(b), "source")
        .where(F.col("p95") > F.col("p05"))
        .select(
            "doc_id",
            "source",
            r6(clipped).alias("clipped"),
            r6((clipped - F.col("med")) / (F.col("p95") - F.col("p05"))).alias(
                "scaled"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q173 — PPJoin prefix-filtered similarity self-join (lossless dedup)
# ---------------------------------------------------------------------------
_Q173_T = 0.5

_Q173_JAC = (
    "CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) "
    "/ (len(ga.grams) + len(gb.grams) "
    "- len(list_intersect(ga.grams, gb.grams)))"
)

_Q173_ORACLE = f"""
    WITH g AS (
      SELECT doc_id AS id,
             list_distinct({dd_hash_array(_Q170_GRAMS)}) AS grams
      FROM documents
    ), posting AS (
      SELECT id, UNNEST(grams) AS gram FROM g
    ), dfreq AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
      FROM posting GROUP BY gram
    ), ordered AS (
      SELECT p.id, list(p.gram ORDER BY d.df, p.gram) AS og
      FROM posting p JOIN dfreq d USING (gram) GROUP BY p.id
    ), pre AS (
      SELECT id,
             UNNEST(og[1 : len(og)
                        - CAST(ceil({_Q173_T} * len(og)) AS BIGINT) + 1])
               AS gram
      FROM ordered
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM pre a JOIN pre b ON a.gram = b.gram AND a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           ROUND({_Q173_JAC} + 5e-12, 6) AS jaccard_sim
    FROM cand c
    JOIN g ga ON ga.id = c.id_a
    JOIN g gb ON gb.id = c.id_b
    WHERE {_Q173_JAC} >= {_Q173_T}
"""


@register(
    "q173_ppjoin",
    _Q173_ORACLE,
    doc="PPJoin prefix-filtered exact-Jaccard self-join "
    "(operators/dedup.ppjoin_pairs, Xiao et al. WWW'08): grams "
    "ordered rarest-first by global doc frequency, only the "
    "|g|-ceil(t|g|)+1 prefix indexed — the prefix-filter lemma makes "
    "the candidate join LOSSLESS (exact recall, unlike LSH) while "
    "prefix postings hold each doc's rarest grams, so the inverted "
    "index has no hot buckets by construction. The scale-path "
    "alternative to q34's stop-gram cutoff when exact recall is "
    "required.",
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import ppjoin_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ppjoin_pairs(docs, "doc_id", "text", n=3, threshold=_Q173_T)
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("jaccard_sim") + 5e-12, 6).alias("jaccard_sim"),
    )


# ---------------------------------------------------------------------------
# Q174 — time-weighted average price (TWAP) over irregular events
# ---------------------------------------------------------------------------
# The irregular-sampling twin of q139's VWAP: each observation holds
# until the next one, so the daily mean weights values by holding
# time (exact integer microseconds), not by row count.
_Q174_ORACLE = f"""
    WITH seq AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, value,
             epoch_us(ts) AS t_us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY strftime(ts, '%Y-%m-%d')
               ORDER BY ts, event_id) AS nxt_us
      FROM events WHERE event_type = 'purchase'
    ), held AS (
      SELECT day, value, nxt_us - t_us AS dt_us
      FROM seq WHERE nxt_us IS NOT NULL
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           {_R6.format(x='SUM(value * dt_us) / SUM(dt_us)')} AS twap,
           {_R6.format(x='AVG(value) + 5e-10')} AS plain_mean
    FROM held
    GROUP BY day
    ORDER BY day
"""


@register(
    "q174_twap",
    _Q174_ORACLE,
    doc="Daily time-weighted average of purchase values: each value "
    "holds until the next observation (lead window, exact integer-"
    "microsecond holding times), so irregular sampling cannot bias "
    "the mean — the sensor/price-feed standard next to q139's "
    "volume-weighted VWAP; plain mean reported alongside as the bias "
    "reference. One window + one aggregation, both on the day key.",
)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.temporal import _epoch_us

    ev = _t(spark, sf_dir, "events")
    seq = ev.where(F.col("event_type") == "purchase").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
        _epoch_us("ts").alias("t_us"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("day").orderBy("ts", "event_id")
    held = (
        seq.withColumn("nxt_us", F.lead("t_us").over(w))
        .where(F.col("nxt_us").isNotNull())
        .select("day", "value", (F.col("nxt_us") - F.col("t_us")).alias("dt_us"))
    )
    return (
        held.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            r6(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us")
            ).alias("twap"),
            F.round(F.avg("value") + 5e-10 + 5e-12, 6).alias("plain_mean"),
        )
        .orderBy("day")
    )
