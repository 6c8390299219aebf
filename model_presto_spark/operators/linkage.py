"""Fuzzy entity linkage (record matching) with blocking.

The standard entity-resolution shape for dirty catalogs at scale:

- **Blocking**: candidate pairs come ONLY from an equi-join on one or
  more stable blocking attributes (zip code, birth year, the noun of
  a product name, a phonetic key ...). This replaces the O(n*m)
  all-pairs comparison with a shuffle join Catalyst can plan —
  broadcast when one side is a small registry, hash-partitioned
  otherwise, with AQE splitting skewed blocks.
- **Fuzzy predicate**: a JVM-side ``levenshtein`` cap on the noisy
  attribute(s), evaluated only within blocks.
- **Best-match selection**: at most one match per left record, by
  (edit distance, deterministic tie-break), via a window over the
  left key — never a driver-side collect.

Multi-pass blocking (union of several independent blocking schemes)
raises recall when any single key can be corrupted —
``multi_pass_fuzzy_join`` runs one candidate pass per scheme,
deduplicates the union, and applies the same best-match selection.

Reference: the reference system links records by exact keys only
(presto-tolbi/presto/dataops/dataset.py idempotence keys); fuzzy
linkage extends the engine for dirty-registry ingest at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    block_on: list[tuple[str, str]],
    fuzzy_on: tuple[str, str],
    max_edit: int = 2,
    left_key: str | None = None,
    tie_break: str | None = None,
) -> DataFrame:
    """Link ``left`` records to ``right`` within blocks.

    ``block_on``: [(left_col, right_col), ...] equality keys that a
    candidate pair must share (the blocking scheme). ``fuzzy_on``:
    (left_col, right_col) compared with ``levenshtein <= max_edit``.

    If ``left_key`` is given, keeps only the single best match per
    left record: minimum edit distance, ties broken on the
    right-side ``tie_break`` column (defaults to the right fuzzy
    column) — fully deterministic. Output: all left columns + right
    columns + ``edit_distance``.
    """
    lf, rf = fuzzy_on
    cond = None
    for lc, rc in block_on:
        c = left[lc] == right[rc]
        cond = c if cond is None else (cond & c)
    dist = F.levenshtein(left[lf], right[rf])
    cond = (dist <= max_edit) if cond is None else (cond & (dist <= max_edit))
    # qualified refs throughout: the two sides may share column names
    # (self-joins, identical registry schemas)
    joined = left.join(right, cond, "inner").withColumn(
        "edit_distance", F.levenshtein(left[lf], right[rf])
    )
    if left_key is None:
        return joined
    tb_col = right[tie_break] if tie_break else right[rf]
    w = Window.partitionBy(left[left_key]).orderBy(
        F.col("edit_distance").asc(), tb_col.asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def multi_pass_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    block_passes: list[list[tuple[str, str]]],
    fuzzy_on: tuple[str, str],
    max_edit: int = 2,
    left_key: str | None = None,
    tie_break: str | None = None,
) -> DataFrame:
    """Union-of-blocking-schemes linkage: candidates are generated
    once per scheme in ``block_passes`` (each a ``block_on`` list),
    deduplicated across passes, then scored/selected exactly like
    ``blocked_fuzzy_join``.

    A record whose value is corrupted in ONE blocking key still
    matches through any scheme that avoids that key — the standard
    recall fix for single-scheme blocking. Cost is the sum of the
    per-scheme candidate volumes (each still an equi-join; never a
    cross join); the dedup is one groupBy over candidate pairs.
    """
    if not block_passes:
        raise ValueError("need at least one blocking scheme")
    # The per-pass outputs union by NAME and dedup by column list, so
    # colliding left/right column names (fine for a single
    # blocked_fuzzy_join, which uses qualified refs) must be
    # disambiguated up front: rename colliding right columns with a
    # _r suffix and rewrite the scheme/fuzzy/tie-break references.
    collisions = set(left.columns) & set(right.columns)
    if collisions:
        ren = {c: f"{c}_r" for c in collisions}
        right = right.withColumnsRenamed(ren)
        block_passes = [
            [(lc, ren.get(rc, rc)) for lc, rc in scheme]
            for scheme in block_passes
        ]
        fuzzy_on = (fuzzy_on[0], ren.get(fuzzy_on[1], fuzzy_on[1]))
        if tie_break is not None:
            tie_break = ren.get(tie_break, tie_break)
    rf = fuzzy_on[1]
    cands = None
    for block_on in block_passes:
        c = blocked_fuzzy_join(
            left, right, block_on, fuzzy_on, max_edit, left_key=None
        )
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.dropDuplicates(cands.columns)
    if left_key is None:
        return cands
    tb = tie_break or rf
    w = Window.partitionBy(left_key).orderBy(
        F.col("edit_distance").asc(), F.col(tb).asc()
    )
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
