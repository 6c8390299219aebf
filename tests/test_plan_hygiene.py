"""Plan-shape guards for the inferred-size>0 explode pathology.

A plain ``explode(expensive_expr)`` gets an InferFiltersFromGenerate
``size(expr) > 0`` pre-filter that re-evaluates the whole generator
tree (tokenize / regex extract / hash) once more per input row. The
hot operators were switched to ``explode_outer`` + cheap guards; these
tests pin the optimized-plan shape so a refactor can't silently bring
the double evaluation back.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pyspark.sql.functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "beta beta delta")],
        "doc_id long, text string",
    )


def test_dsir_buckets_no_inferred_generator_filter(spark):
    from model_presto_spark.operators.dsir import hashed_ngram_buckets

    plan = _plan(hashed_ngram_buckets(_docs(spark), n_buckets=64))
    # the optimized plan must not re-evaluate the tokenize+bigram tree
    # inside an inferred size>0 filter
    assert "(size(concat(" not in plan.lower().replace(" ", "")


def test_dsir_buckets_null_text_contributes_nothing(spark):
    """A NULL-text doc must not land in any bucket: explode_outer
    emits a feat=NULL row for it, and with fast_hash=True xxhash64
    of NULL would otherwise return the seed and count toward a REAL
    bucket's mass (and the smoothing grand total)."""
    from model_presto_spark.operators.dsir import hashed_ngram_buckets

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "beta beta delta")],
        "doc_id long, text string",
    )
    for fast in (False, True):
        rows = hashed_ngram_buckets(docs, n_buckets=64, fast_hash=fast).collect()
        assert all(r["id"] != 2 for r in rows), f"fast_hash={fast}"
        assert all(r["bucket"] is not None for r in rows)


def test_segment_lines_filter_is_cheap(spark):
    from model_presto_spark.operators.lines import segment_by_width

    plan = _plan(segment_by_width(_docs(spark), width=2))
    # the explicit n>0 guard must survive as a size(...) filter over
    # the materialized token array, NOT over a rebuilt index sequence
    assert "size(sequence(" not in plan.lower().replace(" ", "")


def test_token_divergence_no_double_tokenize(spark):
    from model_presto_spark.operators.profile import token_divergence

    df = _docs(spark).withColumn("grp", F.col("doc_id") % 2)
    plan = _plan(token_divergence(df, group_col="grp"))
    flat = plan.lower().replace(" ", "")
    # tokens_sql lowers to a regex split; the split expression must not
    # appear inside a size(...) pre-filter
    assert "(size(split(" not in flat


def test_ngram_jaccard_auto_picks_generator_by_threshold(spark):
    """candidates='auto' must route t>=0.5 to the prefix-filtered
    generator (posexplode over per-doc ordered prefixes) and t<0.5 to
    the low-constant bucket plan (no posexplode) — the switch point is
    the prefix pruning power (1-t), measured 7x either way."""
    from model_presto_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark)
    hi = _plan(ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8))
    lo = _plan(ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3))
    assert "posexplode" in hi.lower()
    assert "posexplode" not in lo.lower()


def test_image_dup_pairs_filters_inside_bucket(spark):
    """The exact Hamming check must run inside the bucket pair
    expansion: no join after the bucket stage (the candidate flood
    from random band collisions must never become join input)."""
    from pyspark.sql import Row

    from model_presto_spark.multimodal.dedup import image_dup_pairs

    rows = [
        Row(media_id=1, kind="image", blob=b"P5 2 2 255\n\x00\x01\x02\x03",
            meta={"height": 2, "width": 2, "channels": 1}),
        Row(media_id=2, kind="image", blob=b"P5 2 2 255\n\x00\x01\x02\x03",
            meta={"height": 2, "width": 2, "channels": 1}),
    ]
    plan = _plan(image_dup_pairs(spark.createDataFrame(rows), max_hamming=6))
    assert "join" not in plan.lower()


# --- round-5 tail-sweep pins ------------------------------------------------

_SF = "/root/testdata/sf0.001"


def test_no_coalesced_literal_dims(spark):
    """The coalesce(1)-literal pathology: pyspark createDataFrame
    literals are RDD-backed, and a Coalesce(1) over one makes the
    broadcast job pull all default-parallelism slices sequentially
    through one task (~5 s/run of Python-worker roundtrips). These
    queries had it and must not regrow a Coalesce node."""
    import os

    if not os.path.exists(_SF):
        import pytest

        pytest.skip("testdata not present")
    from model_presto_spark.plans.queries import QUERIES

    for name in [
        "q507_halfspace_depth",
        "q515_canary_rollout",
        "q543_checkpoint_policy",
        "q547_tornado_sensitivity",
        "q556_percolation",
        "q590_uneven_periodogram",
        "q604_kmv_sketch",
        "q608_placebo_did",
    ]:
        plan = _plan(QUERIES[name].fn(spark, _SF))
        assert "Coalesce 1" not in plan and "Coalesce(1)" not in plan, name


def test_no_unbounded_following_frames(spark):
    """Spark evaluates (x, unboundedFollowing) window frames by
    rescanning to the partition end per row — O(n²). Forward carries
    were rewritten as growing frames over the reversed order; pin it."""
    import os

    if not os.path.exists(_SF):
        import pytest

        pytest.skip("testdata not present")
    from model_presto_spark.plans.queries import QUERIES

    for name in [
        "q509_matching_att",
        "q510_polyline_simplify",
        "q528_retry_backoff",
        "q79_gap_fill",
    ]:
        plan = _plan(QUERIES[name].fn(spark, _SF)).lower()
        assert "unboundedfollowing" not in plan, name


def test_cpu_heavy_small_scans_are_spread(spark):
    """q46/q365 run 36-720 h60 draws per row; the single-file
    customer/events scans are 1 partition, so without a round-robin
    repartition the whole hashing pass serializes onto one core."""
    import os

    if not os.path.exists(_SF):
        import pytest

        pytest.skip("testdata not present")
    from model_presto_spark.plans.queries import QUERIES

    for name in [
        "q46_mask_budget",
        "q365_bootstrap_ci",
        # round-6 sweep additions: repetition folds (q61), brute kNN
        # distance folds (q244), and the md5-per-occurrence passes
        # inside window_hashes (q85/q111) and hashed_ngram_buckets
        # (q105). q491 is also spread but its localCheckpoint
        # materializes the repartition out of the visible plan, so it
        # can't be pinned textually (timing recorded in TAILSWEEP_r6).
        "q61_repetition",
        "q244_hubness",
        "q85_span_dedup",
        "q111_winnowing",
        "q105_dsir",
    ]:
        plan = _plan(QUERIES[name].fn(spark, _SF))
        assert "RoundRobinPartitioning" in plan, name


def test_percolation_is_a_fold_not_join_rounds(spark):
    """q556's 25-node label propagation must stay a single HOF fold
    from the grouped edge lists — no Window, and none of the per-round
    join/checkpoint machinery (5 rounds cost ~13 s of stage
    scheduling for 75 label rows)."""
    import os

    if not os.path.exists(_SF):
        import pytest

        pytest.skip("testdata not present")
    from model_presto_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["q556_percolation"].fn(spark, _SF))
    assert "Window" not in plan
    assert plan.count("Exchange") <= 12  # agg + join shuffles only


def test_dedup_verify_joins_spread_the_pair_stream(spark):
    """Pathology #4 (round 7): AQE coalesces the skinny candidate-pair
    shuffle by BYTES, so the per-pair array_intersect verify work would
    run on ~3 partitions. The verify joins must keep a RoundRobin
    re-spread of the pair stream (the input spread is hidden behind the
    grams persist/checkpoint, so exactly this exchange pins the fix —
    removing the verify spread() drops the count to zero)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta eps zeta"),
            (2, "alpha beta gamma delta eps zeta eta"),
            (3, "x y z"),
        ],
        "doc_id long, text string",
    )
    from model_presto_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    for df in (
        ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="index"
        ),
        ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="lsh"
        ),
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8),
    ):
        assert "RoundRobinPartitioning" in _plan(df)


def test_one_definition_per_expression():
    """No ``functions`` module defines both a builder ``X`` and its
    SQL spelling ``X_sql``: each expression has one definition."""
    import ast
    import pathlib

    import model_presto_spark.functions as pkg

    twins = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        twins += [f"{path.name}:{d}" for d in defs if f"{d}_sql" in defs]
    assert not twins, twins


def test_vector_family_imports_no_spark_ml():
    """The kNN family trains its quantizers with one numpy k-means
    (``knn._kmeans``): ``operators/knn.py`` and ``operators/pq.py``
    import nothing from ``pyspark.ml``."""
    import ast
    import pathlib

    import model_presto_spark.operators as pkg

    found = []
    for name in ("knn.py", "pq.py"):
        tree = ast.parse((pathlib.Path(pkg.__file__).parent / name).read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            found += [f"{name}:{m}" for m in mods if m.split(".")[:2] == ["pyspark", "ml"]]
    assert not found, found
