"""Conformance queries batch #40 (q394+) — generator/join semantics
pins (explode_outer, null-safe equality) and ingest-hygiene
analytics (debounce, out-of-order census, truncation loss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

_TOK = DD_TOKENS.format(t="text")


# ---------------------------------------------------------------------------
# Q394 — explode_outer semantics (zero-match rows preserved)
# ---------------------------------------------------------------------------
# The generator semantics every per-doc extraction silently
# chooses: plain explode DROPS documents with no matches;
# explode_outer keeps them as a NULL row.  The query counts both
# match rows and the preserved no-match documents — a denominator
# an explode-based plan would corrupt.
_Q394_RE = "vector|stream"

_Q394_ORACLE = f"""
    WITH m AS (
      SELECT doc_id, unnest(
        CASE WHEN len(regexp_extract_all(lower(text), '{_Q394_RE}')) = 0
             THEN [NULL]
             ELSE regexp_extract_all(lower(text), '{_Q394_RE}') END) AS kw
      FROM documents
    )
    SELECT COALESCE(kw, '<none>') AS keyword,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM m GROUP BY 1 ORDER BY 1
"""


@register(
    "q394_explode_outer",
    _Q394_ORACLE,
    doc="Generator-semantics pin: regexp matches exploded with OUTER "
    "preservation, so zero-match documents survive as a '<none>' "
    "row — the denominator integrity plain explode silently "
    "destroys.  (Also avoids the InferFiltersFromGenerate re-eval "
    "trap documented in the verify skill.)",
)
def q394(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    matches = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_Q394_RE), 0)
    m = docs.select(
        "doc_id", F.explode_outer(matches).alias("kw")
    )
    return (
        m.groupBy(F.coalesce(F.col("kw"), F.lit("<none>")).alias("keyword"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
        )
        .orderBy("keyword")
    )


# ---------------------------------------------------------------------------
# Q395 — null-safe equality join (<=> vs =)
# ---------------------------------------------------------------------------
# Pair counts under plain equality (NULL keys match nothing) vs
# null-safe equality (NULL <=> NULL is TRUE) on a derived nullable
# key — the three-valued-logic join semantics that silently drops
# or keeps whole cohorts.  The id band rides the EQUI key as a
# bucket (left side replicated to 2 buckets, the interval_join
# shape) — a residual-only band over a low-cardinality key would
# be quadratic per key group.
_Q395_ORACLE = """
    WITH k AS (
      SELECT event_id,
             CASE WHEN event_type <> 'error'
                  THEN CAST(CAST(json_extract(props, '$.k') AS VARCHAR)
                            AS BIGINT) % 10
                  ELSE NULL END AS grp
      FROM events
    ), ka AS (
      SELECT event_id, grp,
             unnest([event_id // 4, event_id // 4 + 1]) AS bk
      FROM k
    ), eq AS (
      SELECT COUNT(*) AS n FROM ka a JOIN k b
        ON a.grp = b.grp AND a.bk = b.event_id // 4
       AND a.event_id < b.event_id AND b.event_id - a.event_id <= 3
    ), nse AS (
      SELECT COUNT(*) AS n FROM ka a JOIN k b
        ON a.grp IS NOT DISTINCT FROM b.grp AND a.bk = b.event_id // 4
       AND a.event_id < b.event_id AND b.event_id - a.event_id <= 3
    )
    SELECT CAST(eq.n AS BIGINT) AS n_equi,
           CAST(nse.n AS BIGINT) AS n_null_safe,
           CAST(nse.n - eq.n AS BIGINT) AS null_null_pairs
    FROM eq, nse
"""


@register(
    "q395_null_safe_join",
    _Q395_ORACLE,
    doc="Join-semantics pin: pair counts under = (NULL matches "
    "nothing) vs <=> / IS NOT DISTINCT FROM (NULL matches NULL) on "
    "a derived nullable key with an id-band residual — Spark's "
    "eqNullSafe against DuckDB's IS NOT DISTINCT FROM.",
)
def q395(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grp = F.when(
        F.col("event_type") != "error",
        F.get_json_object(F.col("props"), "$.k").cast("bigint") % 10,
    )
    k = ev.select("event_id", grp.alias("grp"))
    a = k.select(
        F.col("event_id").alias("ida"),
        F.col("grp").alias("ga"),
        F.explode(
            F.array(
                F.floor(F.col("event_id") / 4),
                F.floor(F.col("event_id") / 4) + 1,
            )
        ).alias("bk"),
    )
    b = k.select(F.col("event_id").alias("idb"), F.col("grp").alias("gb"))
    band = (
        (F.col("bk") == F.floor(F.col("idb") / 4))
        & (F.col("ida") < F.col("idb"))
        & (F.col("idb") - F.col("ida") <= 3)
    )
    eq = a.join(b, (F.col("ga") == F.col("gb")) & band).agg(
        F.count(F.lit(1)).alias("n_equi")
    )
    nse = a.join(b, F.col("ga").eqNullSafe(F.col("gb")) & band).agg(
        F.count(F.lit(1)).alias("n_null_safe")
    )
    return eq.crossJoin(nse).select(
        "n_equi",
        "n_null_safe",
        (F.col("n_null_safe") - F.col("n_equi")).alias("null_null_pairs"),
    )


# ---------------------------------------------------------------------------
# Q396 — debounce census (retrigger suppression)
# ---------------------------------------------------------------------------
# How many events would a 10-minute debounce on (user, event_type)
# suppress — the duplicate-trigger hygiene of every event pipeline,
# decided by one lag window per entity key.
_Q396_GAP_US = 600_000_000

_Q396_ORACLE = f"""
    WITH lagd AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us < {_Q396_GAP_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
    FROM lagd GROUP BY 1 ORDER BY 1
"""


@register(
    "q396_debounce",
    _Q396_ORACLE,
    doc="Debounce census: events arriving within 10 minutes of the "
    "previous same (user, type) event — one lag window per entity "
    "key on exact epoch micros.  The suppression count a retrigger "
    "filter would apply.",
)
def q396(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagd = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return (
        lagd.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("gap_us").isNotNull()
                    & (F.col("gap_us") < _Q396_GAP_US),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_debounced"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q397 — out-of-order arrival census (planted ingest delay)
# ---------------------------------------------------------------------------
# Watermark planning needs the lateness distribution BEFORE the
# stream goes live.  Ingest order is simulated in-plan (every 13th
# event is delivered 2 hours late); lateness = event time below
# the per-user high-water mark of everything already delivered.
# One running-max window in delivery order.
_Q397_DELAY_US = 7_200_000_000

_Q397_ORACLE = f"""
    WITH deliv AS (
      SELECT user_id, ts,
             epoch_us(ts) + CASE WHEN event_id % 13 = 0
                                 THEN {_Q397_DELAY_US} ELSE 0 END AS arrive_us
      FROM events
    ), seq AS (
      SELECT user_id, ts,
             MAX(ts) OVER (PARTITION BY user_id ORDER BY arrive_us
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS hwm
      FROM deliv
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ts < hwm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(COALESCE(MAX(CASE WHEN ts < hwm
                             THEN epoch_us(hwm) - epoch_us(ts) END), 0)
                AS BIGINT) AS max_lateness_us
    FROM seq
"""


@register(
    "q397_out_of_order",
    _Q397_ORACLE,
    doc="Out-of-order arrival census with a planted 2-hour delivery "
    "delay on every 13th event: per-user high-water mark in "
    "delivery order (one running-max window), lateness = event "
    "time below the mark.  The lateness distribution that sizes "
    "a streaming watermark before deployment.",
)
def q397(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    deliv = ev.select(
        "user_id",
        "ts",
        (
            us
            + F.when(F.col("event_id") % 13 == 0, _Q397_DELAY_US).otherwise(0)
        ).alias("arrive_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrive_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = deliv.select("ts", F.max("ts").over(w).alias("hwm"))
    late = F.col("ts") < F.col("hwm")
    hwm_us = F.unix_micros(F.col("hwm").cast("timestamp"))
    return seq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        F.coalesce(
            F.max(F.when(late, hwm_us - us)), F.lit(0)
        )
        .cast("bigint")
        .alias("max_lateness_us"),
    )


# ---------------------------------------------------------------------------
# Q398 — context-window truncation loss
# ---------------------------------------------------------------------------
# If documents are truncated at 64 tokens, how much of each
# source's token mass is lost — the context-length budgeting
# report behind max_seq_len choices (complement of the q74/q355
# packing view: truncate vs pack).
_Q398_LEN = 64

_Q398_ORACLE = f"""
    WITH t AS (
      SELECT source, len({_TOK}) AS n_tok FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tok > {_Q398_LEN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(n_tok - {_Q398_LEN}, 0)) AS BIGINT)
             AS tokens_lost,
           ROUND(SUM(GREATEST(n_tok - {_Q398_LEN}, 0)) * 1.0 / SUM(n_tok)
                 + 5e-12, 6) AS loss_frac
    FROM t GROUP BY source ORDER BY source
"""


@register(
    "q398_truncation_loss",
    _Q398_ORACLE,
    doc=f"Truncation-at-{_Q398_LEN} loss per source: docs over the "
    "limit and the token mass dropped — the max_seq_len budgeting "
    "report (truncate-vs-pack complement of q74/q355).  One "
    "length projection + one rollup.",
)
def q398(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    t = docs.selectExpr("source", f"size({T.tokens_sql('text')}) AS n_tok")
    lost = F.greatest(F.col("n_tok") - _Q398_LEN, F.lit(0))
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_tok") > _Q398_LEN, 1).otherwise(0))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(lost).cast("bigint").alias("tokens_lost"),
            r6(F.sum(lost) * 1.0 / F.sum("n_tok")).alias("loss_frac"),
        )
        .orderBy("source")
    )
