"""Table catalog over the driver's parquet testdata.

Mirrors the reference's scan layer (SURVEY.md §2.1): parquet is the
canonical columnar source (S7); other formats live in
``model_presto_spark.sources``. Loads are lazy DataFrames — Catalyst
handles column pruning and predicate pushdown into the parquet scan,
playing the role the remote collection service plays in the
reference (reference: src/optimization.py:79-99 lazy filter chains).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one catalog table.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which the
    Spark 4 vectorized reader rejects; read it as raw nanos
    (``nanosAsLong``) and truncate to microseconds — the same
    truncation DuckDB applies internally, so oracle comparisons on
    derived time fields agree.

    The lazy DataFrame (an unexecuted logical plan) is memoized per
    ``(session, sf_dir, name)``: a fresh ``spark.read.parquet`` costs
    ~130 ms of driver work per call (reader construction, file
    listing, footer schema read) plus ~40 ms of ``conf.set`` py4j
    round-trips, repeated for every query build even though the
    resolved relation is identical.  The memo holds ONLY the plan —
    no rows, no persisted partitions; every action on it still scans
    the parquet files — and lives on the Python session object, so a
    new session (or process) starts cold.  Catalog paths are static
    per session (tests and the driver never rewrite a table in
    place); anything needing a re-list can open a new session or
    read directly.
    """
    try:
        cache = spark._mps_table_plans
    except AttributeError:
        cache = spark._mps_table_plans = {}
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is not None:
        return df
    # Pin UTC regardless of who built the session (the driver's own
    # SparkSession has no engine configs): date/timestamp extraction
    # must agree with DuckDB's naive-UTC semantics.  Pinned on the
    # memo miss — nothing in the engine un-pins it afterwards.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    cache[key] = df
    return df


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """CSV scan (S4; reference: algae_blooms_eval.py:49-50). Explicit
    schema preferred — inference costs an extra pass."""
    reader = spark.read.option("header", "true")
    return (reader.schema(schema) if schema else reader.option(
        "inferSchema", "true"
    )).csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink (S11; optimization.py:216-217)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON metadata sink (S17; ..._monthly.py:415-458)."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (second columnar format beside parquet; built into
    Spark — same pushdown/pruning machinery)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


# Single-child nodes that keep the scan's partitioning (no shuffle).
_NARROW_NODES = frozenset(
    ("Project", "Filter", "SubqueryAlias", "Sample", "Generate", "ResolvedHint")
)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism, unless the scan
    under ``df`` is already that wide.

    CPU-bound operators (shingling, per-element hashing, vector math)
    must not inherit a narrow partitioning: a few-file scan, or an
    AQE-coalesced shuffle, serializes the whole stage onto a few
    cores. One cheap shuffle of the raw rows buys full-cluster
    parallelism for everything downstream.

    The rule: if ``df`` is a chain of ``_NARROW_NODES`` over a file
    scan listing at least ``defaultParallelism`` files (a 100 TB table
    is tens of thousands), the stage is already wide and a re-shuffle
    is pure cost, so ``df`` comes back unchanged. Every other shape
    (few files, any shuffle in the chain, local relations, RDDs)
    repartitions. Deciding costs a few py4j round trips and no
    planning: DataFrames are analyzed on construction, and the file
    index cached its listing when the table was opened. The partition
    probes (``df.rdd.getNumPartitions()``, ``df.inputFiles()``)
    compile the physical plan, at 76-170 ms per call.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    node = df._jdf.queryExecution().analyzed()
    name = node.nodeName()
    while name in _NARROW_NODES:
        node = node.child()
        name = node.nodeName()
    if name == "LogicalRelation":
        rel = node.relation()
        if (
            rel.getClass().getSimpleName() == "HadoopFsRelation"
            and len(rel.location().inputFiles()) >= n
        ):
            return df
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every catalog table present in ``sf_dir`` (all lazy)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view for spark.sql() access."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "month"),
    mode: str = "overwrite",
) -> None:
    """Hive-layout partitioned parquet dataset (SURVEY §7 item 8: the
    reference's dated-artifact layout, e.g. tile/year/month dirs in
    presto-tolbi ..._monthly.py:722-733).

    The payoff at 100 TB is partition PRUNING: any read that filters
    on a partition column scans only matching directories — the scan
    plan shows the predicate under PartitionFilters and never opens
    the other files (verified by tests/test_partition_pruning.py).
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: tuple[str, ...] | None = None,
    delete_col: str | None = None,
) -> None:
    """MERGE-style upsert into a parquet table (no transaction log).

    Semantics per key: matched -> replace with the update row; not
    matched -> insert; rows with ``delete_col`` true remove the
    target row and insert nothing. With ``partition_cols`` the write
    uses dynamic partition overwrite, so ONLY partitions touched by
    the update batch are rewritten — the incremental-maintenance
    shape at 100 TB (requires keys to be partition-stable: a key
    whose partition value changes must be deleted from the old
    partition in the same batch). Without partitions the whole table
    rewrites.

    The merged result is materialized (eager localCheckpoint) BEFORE
    the overwrite — Spark cannot safely overwrite files it is still
    lazily reading. Not atomic under concurrent writers (that is
    what table formats add); idempotent under replay of the same
    batch.
    """
    from pyspark.sql import functions as F

    if delete_col is not None:
        deletes = updates.where(F.col(delete_col)).select(*key_cols)
        upserts = updates.where(~F.col(delete_col)).drop(delete_col)
    else:
        deletes = None
        upserts = updates

    if not os.path.exists(target_path):
        writer = upserts.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(target_path)
        return

    target = spark.read.parquet(target_path)
    touched_keys = updates.select(*key_cols).distinct()
    if partition_cols:
        # only partitions named by the batch participate
        parts = upserts.select(*partition_cols).distinct()
        if deletes is not None:
            del_parts = (
                target.join(deletes, key_cols, "left_semi")
                .select(*partition_cols)
                .distinct()
            )
            parts = parts.unionByName(del_parts).distinct()
        scope = target.join(F.broadcast(parts), list(partition_cols), "left_semi")
    else:
        scope = target
    keep = scope.join(touched_keys, key_cols, "left_anti")
    merged = keep.unionByName(upserts).localCheckpoint(eager=True)

    writer = merged.write.mode("overwrite")
    if partition_cols:
        # Dynamic overwrite only replaces partitions PRESENT in the
        # written data — a delete batch that empties a partition
        # writes no rows for it, so its old files (and the deleted
        # keys) would silently survive. Detect emptied in-scope
        # partitions and drop their directories via the Hadoop FS
        # (works for any path scheme, not just local).
        in_scope = {tuple(r) for r in parts.collect()}  # O(#partitions)
        still_there = {
            tuple(r) for r in merged.select(*partition_cols).distinct().collect()
        }
        emptied = in_scope - still_there
        if emptied:
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for vals in emptied:
                sub = "/".join(
                    f"{c}={v}" for c, v in zip(partition_cols, vals)
                )
                jpath = jvm.org.apache.hadoop.fs.Path(
                    f"{target_path}/{sub}"
                )
                fs = jpath.getFileSystem(hconf)
                fs.delete(jpath, True)
        writer = (
            writer.option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
        )
    writer.parquet(target_path)
