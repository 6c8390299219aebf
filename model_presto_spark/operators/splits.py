"""Seeded sampling, shuffling, and train/val/test split operators.

The reference's split discipline (SURVEY.md §2.9): every split is
seeded and persisted so it never drifts (reference:
presto-tolbi/presto/utils.py:28-45 seed_everything(42);
presto-tolbi/presto/eval/fuel_moisture_eval.py:49-65 per-site split;
presto-tolbi/presto/eval/croptype_france_eval.py:151-162 per-class
capped assignment; presto-tolbi/presto/eval/cropharvest_eval.py:282-284
stratified; presto-tolbi/presto/dataops/dataset.py:407-411 shard
assignment).

Scale notes: every operator here is one narrow projection or one
shuffle; none collects to the driver. Deterministic *hash* splits
(not rand) are preferred at 100 TB because they are stable under
retries, speculative execution, and re-partitioning — rand(seed) is
only deterministic for a fixed partitioning, which a cluster does
not guarantee across runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def seeded_shuffle(df: DataFrame, seed: int = 42) -> DataFrame:
    """Deterministic full shuffle (reference: wds.shuffle seeded 42,
    dataset.py:258-277). One range-partitioned sort."""
    return df.orderBy(F.rand(seed))


def hash_bucket(key: Column, n_buckets: int) -> Column:
    """Deterministic bucket id in [0, n_buckets) from a key column.

    xxhash64-based: stable across runs, partitionings and retries —
    the scale-safe replacement for np.random.choice shard assignment
    (dataset.py:407-411).
    """
    return F.pmod(F.xxhash64(key), F.lit(n_buckets))


def hash_split(
    df: DataFrame, key: str, fractions: dict[str, float], salt: str = ""
) -> DataFrame:
    """Assign a ``split`` column deterministically by key hash.

    fractions: e.g. {"train": 0.8, "val": 0.1, "test": 0.1} (must sum
    to ~1). A row's split depends only on its key (and salt), so the
    assignment is reproducible on any cluster and any input order.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = (
        F.pmod(F.xxhash64(F.col(key), F.lit(salt)), F.lit(1_000_000)).cast("double")
        / 1_000_000.0
    )
    acc = 0.0
    expr = None
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def ratio_split(
    df: DataFrame, weights: list[float], seed: int = 42
) -> list[DataFrame]:
    """Random ratio split (reference: torch random_split 80/20,
    src/data_module.py:62-64). Thin wrapper over randomSplit."""
    return df.randomSplit(weights, seed=seed)


def stratified_split(
    df: DataFrame, label: str, train_fraction: float, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Stratified train/rest split preserving per-label proportions
    (reference: sklearn train_test_split(stratify=y, random_state=42),
    cropharvest_eval.py:282-284).

    Per-label deterministic rank over a seeded shuffle key, split at
    the label's train quota — exact stratification (sampleBy is only
    approximate) and fully distributed (one window per label
    partition).
    """
    w = Window.partitionBy(label).orderBy(F.xxhash64(F.struct(*df.columns), F.lit(seed)))
    cnt = Window.partitionBy(label)
    ranked = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(cnt)
    )
    train = ranked.filter(
        F.col("__rn") <= F.ceil(F.col("__n") * train_fraction)
    ).drop("__rn", "__n")
    rest = ranked.filter(
        F.col("__rn") > F.ceil(F.col("__n") * train_fraction)
    ).drop("__rn", "__n")
    return train, rest


def group_split(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Split by *group* so no group straddles splits (reference:
    per-site split, fuel_moisture_eval.py:49-65,83-84).

    Assignment hashes the group key (deterministic); broadcast-joined
    back, so the full table never shuffles.
    """
    groups = df.select(group_col).distinct()
    assigned = hash_split(groups, group_col, fractions, salt=str(seed))
    return df.join(F.broadcast(assigned), group_col, "left")


def per_class_capped_split(
    df: DataFrame,
    class_col: str,
    order_col: str,
    n_train: int,
    n_val: int,
) -> DataFrame:
    """First ``n_train`` rows per class → train, next ``n_val`` → val,
    rest → test (reference: croptype_france_eval.py:151-162 —
    first-100/next-100/rest assignment).

    Deterministic: rows ranked inside each class partition by
    ``order_col``. One window, no shuffle beyond the class partition.
    """
    w = Window.partitionBy(class_col).orderBy(order_col)
    rn = F.row_number().over(w)
    return df.withColumn(
        "split",
        F.when(rn <= n_train, F.lit("train"))
        .when(rn <= n_train + n_val, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def per_class_limit(df: DataFrame, class_col: str, order_col: str, n: int) -> DataFrame:
    """Keep at most n rows per class (reference: n_per_class
    retention, cropharvest_eval.py:286-293)."""
    w = Window.partitionBy(class_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def balanced_sample(
    df: DataFrame, label: str, order_col: str, k: int | None = None
) -> DataFrame:
    """Equal-count sample per label value; k defaults to the minority
    class size (reference: k = min(#pos, #neg) class-balance check,
    cropharvest_extensions.py:605-607; balanced half/half as_array,
    :626-645).
    """
    if k is None:
        counts = df.groupBy(label).count()
        k = counts.agg(F.min("count")).collect()[0][0] or 0
    return per_class_limit(df, label, order_col, k)


def interleave(a: DataFrame, b: DataFrame) -> DataFrame:
    """Alternate rows from two DataFrames (reference: pos/neg
    alternating interleave, cropharvest_extensions.py:784).

    Each side gets a per-side rank; ordering by (rank, side) yields
    a0 b0 a1 b1 ... — one union + a sortable key, no driver loop.
    """
    wa = Window.orderBy(*[F.col(c) for c in a.columns])
    wb = Window.orderBy(*[F.col(c) for c in b.columns])
    an = a.withColumn("__r", F.row_number().over(wa)).withColumn("__s", F.lit(0))
    bn = b.withColumn("__r", F.row_number().over(wb)).withColumn("__s", F.lit(1))
    return an.unionByName(bn).orderBy("__r", "__s").drop("__r", "__s")


def sample_with_memory(
    df: DataFrame,
    label: str,
    order_col: str,
    k_per_class: int,
    offset_per_class: dict | None = None,
) -> tuple[DataFrame, dict]:
    """Balanced per-class sampling WITHOUT replacement across calls
    (reference sample_with_memory, cropharvest_extensions.py:762-788):
    each call takes the next ``k_per_class`` rows per class after the
    remembered offset, and returns the updated offsets.

    Distributed: one window rank per class; the memory is a tiny
    {class: offset} dict (driver-side state, like the reference's).
    """
    offsets = dict(offset_per_class or {})
    w = Window.partitionBy(label).orderBy(order_col)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    off = None
    for cls, o in offsets.items():
        c = (F.col(label) == F.lit(cls)).cast("int") * F.lit(o)
        off = c if off is None else off + c
    lo = off if off is not None else F.lit(0)
    out = ranked.filter(
        (F.col("__rn") > lo) & (F.col("__rn") <= lo + k_per_class)
    ).drop("__rn")
    taken = {
        r[label]: r["n"]
        for r in out.groupBy(label).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    new_offsets = {
        cls: offsets.get(cls, 0) + n for cls, n in taken.items()
    }
    for cls, o in offsets.items():
        new_offsets.setdefault(cls, o)
    return out, new_offsets


def paginate(df: DataFrame, order_cols: list[str], page_size: int) -> DataFrame:
    """Add a ``page`` column chunking rows into fixed-size pages over
    a deterministic global order (reference max_size=10000 test-set
    slicing, cropharvest_extensions.py:647-693). Downstream consumers
    filter one page at a time (T5 micro-batching)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(
        "page", ((F.row_number().over(w) - 1) / page_size).cast("int")
    )


def oversample(df: DataFrame, times_col: Column) -> DataFrame:
    """Replicate each row ``times_col`` times (reference: negative
    oversampling `negative_paths *= multiplier`,
    cropharvest_extensions.py:441-446). explode(array_repeat) —
    distributed, no driver loop.
    """
    return (
        df.withColumn(
            "__rep", F.explode(F.array_repeat(F.lit(1), times_col.cast("int")))
        )
        .drop("__rep")
    )


def hash_rank_sample(
    df: DataFrame,
    key_col: str,
    k: int,
    strata_cols: list[str] | None = None,
    salt: str = "smp",
) -> DataFrame:
    """Deterministic downsample: keep the k rows with the smallest
    md5-derived 60-bit hash of (salt # key) — per stratum when
    ``strata_cols`` is given, globally otherwise.

    The hash order is a fixed pseudo-random permutation of the key
    space, so the sample is (a) uniform, (b) reproducible across
    runs, engines, and cluster sizes (no RNG state, no partition
    order dependence), and (c) *stable under growth*: a row sampled
    at corpus size N stays sampled at N' < N, which keeps incremental
    re-runs of a training-data pipeline from churning the subset.
    One window shuffle per call; at 100 TB prefer a pre-filter on
    ``hash < threshold`` (same hash) to cut the sort input when k is
    a tiny fraction of each stratum.
    """
    from model_presto_spark.functions.text import h60_sql

    hashed = df.withColumn(
        "__hk", F.expr(h60_sql(f"concat('{salt}#', CAST({key_col} AS STRING))"))
    )
    if strata_cols:
        w = Window.partitionBy(*strata_cols).orderBy("__hk", key_col)
    else:
        w = Window.orderBy("__hk", key_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__hk", "__rn")
    )


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    strata_cols: list[str] | None = None,
    salt: str = "wsmp",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spiridakis A-Res): each row draws the reproducible
    uniform ``u = (h60(salt#key) + 0.5) / 2^60`` and is ranked by
    ``-ln(u) / w`` — keeping the k smallest is exactly a weighted
    sample without replacement with inclusion odds proportional to
    ``weight_col``. Per stratum when ``strata_cols`` is given.

    Same determinism contract as hash_rank_sample (uniform cousin):
    no RNG state, identical across runs/engines/cluster sizes, and
    sampled rows stay sampled under corpus growth. One window
    shuffle; the exponential-race key is what makes weighted
    reservoir sampling mergeable at 100 TB (per-partition top-k then
    global top-k works on the same key — A-Res is associative)."""
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    u = (
        F.expr(h60_sql(f"concat('{salt}#', CAST({key_col} AS STRING))"))
        + F.lit(0.5)
    ) / F.lit(H60_MAX)
    keyed = df.withColumn(
        "__wk", -F.log(u) / F.col(weight_col).cast("double")
    )
    w = Window.partitionBy(
        *[F.col(c) for c in (strata_cols or [])]
    ).orderBy(F.col("__wk").asc(), F.col(key_col).asc())
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .drop("__wk")
    )


def kfold(
    df: DataFrame,
    key_col: str,
    k: int = 5,
    strata_cols: list[str] | None = None,
    salt: str = "cv",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment.

    Adds ``fold`` in [0, k): plain mode assigns by key hash (uniform
    in expectation, reproducible anywhere); stratified mode rotates
    folds over the hash-ranked order WITHIN each stratum, so every
    fold holds floor/ceil(n_s / k) rows of stratum s — exact
    stratification, not just expected. One window per stratum (a
    single shuffle); train/test views for fold i are
    ``fold != i`` / ``fold == i``.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    h = F.xxhash64(F.concat(F.lit(salt + "#"), F.col(key_col).cast("string")))
    if not strata_cols:
        return df.withColumn("fold", F.pmod(h, F.lit(k)).cast("int"))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(key_col).asc())
    return df.withColumn(
        "fold", ((F.row_number().over(w) - 1) % k).cast("int")
    )


def token_budget_truncate(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tokens: Column,
    budget: int,
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Prefix truncation: keep each group's rows, in ``order_col``
    order, while the running total of ``tokens`` stays within
    ``budget`` (the kept set is a prefix because token counts are
    non-negative).

    The SINGLE batch definition of this semantic — q62's conformance
    query and the CorpusPipeline ``token_budget`` stage both call
    it, and the streaming twin
    (streaming/stateful.token_budget_sample) is golden-cross-checked
    against it. One window per group key (a single shuffle). Adds
    ``cum_col`` (bigint running total).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(cum_col, F.sum(tokens).over(w).cast("bigint"))
        .where(F.col(cum_col) <= budget)
    )
