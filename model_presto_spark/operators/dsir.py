"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

Selects raw-corpus documents whose hashed-n-gram profile looks like a
small TARGET corpus: per-document importance weight

    log w(d) = sum over n-gram occurrences g in d of
               log p_target[bucket(g)] - log p_raw[bucket(g)]

with unigram+bigram features hashed into ``n_buckets`` buckets and
add-1 (Laplace) smoothing on both bucket distributions, then a
Gumbel-top-k resample: rank by ``log w(d) + Gumbel(seed, d)`` so the
selection is a proper sample from the softmax over weights rather
than a deterministic head that would collapse onto near-duplicates
of the target. (Reference analog: the reference balances/filters its
training corpus with deterministic seeded sampling —
`presto-tolbi/presto/eval/cropharvest_extensions.py:550-560,762-788`;
DSIR is the corpus-scale, distribution-matching generalization.)

Everything is closed-form Catalyst expressions:

- bucket(g) = h60(g) % n_buckets (md5-derived 60-bit hash — replays
  bit-identically in any engine, so the oracle agrees).
- The two bucket distributions are aggregates of at most
  ``n_buckets`` rows — broadcast back to the per-doc postings join.
- Gumbel noise is DETERMINISTIC: u(d) = (h60(id || seed) + 1) /
  (2^60 + 1) in (0,1),  g(d) = -ln(-ln(u)) — seeded, reproducible,
  engine-independent.

Scale shape: one explode of n-gram hashes per doc with map-side
combine into (id, bucket, cnt); a broadcast join against the <=
n_buckets log-ratio table; one groupBy(id) sum. The raw corpus is
never shuffled by anything wider than an 8-byte bucket id; the
target corpus only contributes a tiny distribution table.

On the measured scaling exponent (~0.87 at the stress suite's 10x
step, STRESS_r8): DSIR tokenizes and hashes every n-gram occurrence,
so its work is INHERENTLY linear in corpus tokens — sub-1.0 comes
only from fixed overhead amortizing. The two-shuffle shape
(map-side-combined (id, bucket, cnt) rows, then a re-shuffle of the
per-doc partials on id) was kept over the one-shuffle alternative
(manual repartition(id) before the aggregation) deliberately: the
combined rows crossing the wire are bounded by min(n_buckets,
doc_len) per document, while the one-shuffle variant ships every raw
occurrence uncombined — strictly more bytes for typical documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.text import (
    H60_MAX,
    h60_fast_sql,
    h60_sql,
    tokens_sql,
    word_ngrams_all,
)


def hashed_ngram_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    fast_hash: bool = False,
) -> DataFrame:
    """(id, bucket, cnt): unigram+bigram occurrences hashed into
    ``n_buckets`` buckets, counted per document (map-side combined)."""
    from model_presto_spark.io import spread

    # spread first: the tokenize + bigram-concat + per-occurrence md5
    # pass is the dominant CPU and must not inherit a small scan's
    # single partition (io.spread docstring; round-5 pathology #3)
    toksed = spread(docs).selectExpr(
        f"{id_col} AS id", f"{tokens_sql(text_col)} AS toks"
    )
    # every bigram occurrence, repeats kept: DSIR features are counts
    feats = toksed.select(
        "id",
        F.concat(F.col("toks"), word_ngrams_all(F.col("toks"), 2)).alias("feats"),
    )
    # explode_outer: a plain explode gets an inferred size(feats)>0
    # pre-filter that re-evaluates the whole tokenize+bigram tree per
    # row (measured 4.6s -> 0.5s on this stage at sf0.1); feats is
    # non-empty by construction (empty text still yields [""]). The
    # isNotNull guard restores plain-explode semantics for NULL text
    # (feats=NULL -> one feat=NULL row, which xxhash64 would otherwise
    # hash to a REAL bucket via its seed) — a cheap column-ref filter
    # that does not reintroduce the inferred-size pre-filter.
    g = feats.select("id", F.explode_outer("feats").alias("feat")).filter(
        F.col("feat").isNotNull()
    )
    h = F.expr(h60_fast_sql("feat") if fast_hash else h60_sql("feat"))
    return (
        g.select("id", F.pmod(h, F.lit(n_buckets)).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_log_probs(
    bucketed: DataFrame, n_buckets: int, name: str
) -> DataFrame:
    """(bucket, log_p_<name>) with add-1 smoothing over all buckets.
    At most ``n_buckets`` rows — a broadcast dimension."""
    tot = bucketed.groupBy("bucket").agg(F.sum("cnt").alias("c"))
    # total mass inside the plan (one-row aggregate, crossJoined):
    # never a driver collect
    grand = tot.agg(F.sum("c").alias("g"))
    return (
        tot.crossJoin(F.broadcast(grand))
        .select(
            "bucket",
            (
                F.log((F.col("c") + 1).cast("double"))
                - F.log((F.col("g") + n_buckets).cast("double"))
            ).alias(f"log_p_{name}"),
        )
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    fast_hash: bool = False,
) -> DataFrame:
    """(id, n_feats, log_weight): per-raw-document importance weight.

    Buckets absent from a corpus still carry smoothed mass, so the
    log-ratio table is built on the union of observed buckets; a raw
    document's occurrence of a bucket the target never saw is scored
    with the smoothed (1 / (G + B)) target probability.
    """
    from pyspark import StorageLevel

    # each bucket relation feeds three branches (its distribution,
    # its grand total, and — for raw — the scoring join); persist so
    # the tokenize+hash pass over each corpus runs once
    raw_b = hashed_ngram_buckets(
        raw, id_col, text_col, n_buckets, fast_hash
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tgt_b = hashed_ngram_buckets(
        target, id_col, text_col, n_buckets, fast_hash
    ).persist(StorageLevel.MEMORY_AND_DISK)
    p_raw = _bucket_log_probs(raw_b, n_buckets, "raw")
    p_tgt = _bucket_log_probs(tgt_b, n_buckets, "tgt")
    # raw-corpus totals for smoothing of buckets unseen in one side
    raw_grand = raw_b.agg(F.sum("cnt").alias("g_raw"))
    tgt_grand = tgt_b.agg(F.sum("cnt").alias("g_tgt"))
    ratio = (
        p_raw.join(p_tgt, "bucket", "outer")
        .crossJoin(F.broadcast(raw_grand))
        .crossJoin(F.broadcast(tgt_grand))
        .select(
            "bucket",
            (
                F.coalesce(
                    F.col("log_p_tgt"),
                    -F.log((F.col("g_tgt") + n_buckets).cast("double")),
                )
                - F.coalesce(
                    F.col("log_p_raw"),
                    -F.log((F.col("g_raw") + n_buckets).cast("double")),
                )
            ).alias("llr"),
        )
    )
    scored = (
        raw_b.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("llr")).alias("log_weight"),
        )
    )
    return scored.select(F.col("id").alias(id_col), "n_feats", "log_weight")


def gumbel_key(id_col: str, seed: int = 42) -> F.Column:
    """Deterministic standard-Gumbel draw keyed on (id, seed):
    g = -ln(-ln(u)), u = (h60(id#seed) + 1) / (2^60 + 1) in (0,1)."""
    # (h + 1) is computed in BIGINT before the double cast: at 2^60
    # magnitude double spacing is 256, so cast-then-add would absorb
    # the +1 differently than an engine that adds first — a real
    # cross-engine divergence at rounding boundaries (~1/128 of ids).
    h = h60_sql(f"concat(CAST({id_col} AS STRING), '#gumbel{seed}')")
    u = (F.expr(h) + F.lit(1)).cast("double") / F.lit(H60_MAX + 1.0)
    return -F.log(-F.log(u))


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    seed: int = 42,
    fast_hash: bool = False,
) -> DataFrame:
    """Gumbel-top-k importance resample of ``raw`` toward ``target``.

    Returns (id, n_feats, log_weight, key) for the k selected docs —
    equivalent to sampling k docs without replacement with
    probability proportional to softmax(log_weight) (the Gumbel-max
    trick), but fully deterministic under ``seed``. The global top-k
    is a TakeOrderedAndProject (per-partition heaps + driver merge of
    k rows), never a full sort.
    """
    w = dsir_weights(raw, target, id_col, text_col, n_buckets, fast_hash)
    keyed = w.select(
        id_col,
        "n_feats",
        "log_weight",
        (F.col("log_weight") + gumbel_key(id_col, seed)).alias("key"),
    )
    return keyed.orderBy(F.desc("key"), F.col(id_col)).limit(k)
