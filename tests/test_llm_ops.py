"""Unit tests: contamination overlap and repetition-quality signals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the cat sat on the mat", "corpus"),
        (2, "a completely different sentence here today", "corpus"),
        (3, "the cat sat on a hat", "bench"),
        (4, "spam spam spam spam spam ham", "corpus"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, src string")


def test_ngram_contamination_counts(docs):
    from model_presto_spark.operators.contamination import ngram_contamination

    out = ngram_contamination(
        docs.filter(F.col("src") == "corpus"),
        docs.filter(F.col("src") == "bench"),
        n=3,
    ).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 1 shares exactly "the cat sat" and "cat sat on" with doc 3
    assert by_id[1].n_overlap == 2
    assert by_id[1].n_grams == 4
    assert by_id[1].contamination == pytest.approx(0.5)
    # docs 2 and 4 share no 3-gram with the benchmark
    assert 2 not in by_id and 4 not in by_id


def test_contamination_broadcast_plan(docs):
    """The benchmark side must broadcast: the corpus is never
    shuffled by gram (the 100 TB-safe shape)."""
    from model_presto_spark.operators.contamination import ngram_contamination

    out = ngram_contamination(
        docs.filter(F.col("src") == "corpus"),
        docs.filter(F.col("src") == "bench"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_signals(spark):
    from model_presto_spark.functions.text import (
        duplicate_ngram_fraction,
        tokens_sql,
        top_ngram_fraction,
        word_ngrams_all,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # 2-grams: ab ba ab ba ab -> top "a b" 3/5
            (2, "x y z w"),  # all distinct
            (3, "q"),  # single token -> one degenerate gram
            (4, ""),  # empty
        ],
        "doc_id bigint, text string",
    )
    # materialize tokens first (inlining caveat): two selects
    toks = df.select("doc_id", F.expr(tokens_sql("text")).alias("t"))
    g = toks.select("doc_id", word_ngrams_all(F.col("t"), 2).alias("g"))
    out = {
        r.doc_id: r
        for r in g.select(
            "doc_id",
            duplicate_ngram_fraction(F.col("g")).alias("dup"),
            top_ngram_fraction(F.col("g")).alias("top"),
        ).collect()
    }
    assert out[1].dup == pytest.approx(1 - 2 / 5)
    assert out[1].top == pytest.approx(3 / 5)
    assert out[2].dup == pytest.approx(0.0)
    assert out[2].top == pytest.approx(1 / 3)
    assert out[3].dup == pytest.approx(0.0)
    assert out[3].top == pytest.approx(1.0)
    # empty text: single '' gram, defined and finite
    assert out[4].dup == pytest.approx(0.0)
    assert out[4].top == pytest.approx(1.0)


def test_top_ngram_fraction_matches_exploded_definition(spark):
    """Property: the single-pass fold equals the explode+group+max
    definition on random word-soup docs."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from model_presto_spark.functions.text import (
        tokens_sql,
        top_ngram_fraction,
        word_ngrams_all,
    )

    toks = df.select("doc_id", F.expr(tokens_sql("text")).alias("t"))
    g = toks.select("doc_id", word_ngrams_all(F.col("t"), 2).alias("g"))
    fold = {
        r.doc_id: r.top
        for r in g.select(
            "doc_id", top_ngram_fraction(F.col("g")).alias("top")
        ).collect()
    }
    exploded = (
        g.select("doc_id", F.size("g").alias("n"), F.explode("g").alias("gram"))
        .groupBy("doc_id", "n", "gram")
        .count()
        .groupBy("doc_id", "n")
        .agg(F.max("count").alias("top_c"))
        .collect()
    )
    for r in exploded:
        assert fold[r.doc_id] == pytest.approx(r.top_c / r.n)


def test_minhash_mega_bucket_guard(spark):
    """Buckets above max_bucket_size emit chain pairs (O(d)) instead
    of all C(d,2) pairs, and transitive clustering still recovers the
    full duplicate cluster."""
    from model_presto_spark.operators.dedup import minhash_lsh_pairs
    from model_presto_spark.operators.graph import dedup_clusters

    # 30 identical docs (one giant bucket) + 2 unrelated docs
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
    rows += [(100, "completely unrelated text body one"),
             (101, "another different document entirely two")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    full = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.9, max_bucket_size=2000
    )
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.9, max_bucket_size=10
    )
    n_full, n_capped = full.count(), capped.count()
    assert n_full == 30 * 29 // 2
    # chain emits d-1 edges per mega bucket (4 bands -> same chain)
    assert n_capped < n_full
    assert n_capped >= 29

    # transitive closure recovers the identical cluster either way
    cl = dedup_clusters(docs.select("doc_id"), capped, "doc_id")
    sizes = {r.cluster: r.n for r in cl.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes[0] == 30  # min-id representative of the 30 dups
    assert sizes[100] == 1 and sizes[101] == 1


def test_minhash_fast_hash_finds_planted_dups(spark):
    """fast_hash=True (xxhash64) finds the same planted near-dups as
    the md5 oracle path on a corpus with clear duplicates."""
    from model_presto_spark.operators.dedup import minhash_lsh_pairs

    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(400)]
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (i, " ".join(rng.sample(vocab, 12))) for i in range(20)
    ]  # genuinely distinct fillers
    rows += [(50, base), (51, base), (52, base + " extra")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def pairset(fast):
        return {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.6, fast_hash=fast
            ).collect()
        }

    slow, fast = pairset(False), pairset(True)
    # both hash choices find exactly the planted cluster: the verify
    # stage (exact Jaccard) makes the final pair set hash-agnostic
    # when candidates are clear-cut
    assert slow == fast == {(50, 51), (50, 52), (51, 52)}


def test_scrub_pii_and_normalize(spark):
    from model_presto_spark.functions.text import normalize_text, scrub_pii

    rows = [
        (1, "contact me at jane.doe+x@example.co.uk or +1 (555) 123-4567"),
        (2, "server 192.168.1.254 logs at https://logs.example.com/x?y=1 end"),
        (3, "no pii here just words"),
        (4, "tabs\t\tand   spaces\x00\x1f and ctl"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {
        r.id: r.clean
        for r in df.select(
            "id", normalize_text(scrub_pii(F.col("text"))).alias("clean")
        ).collect()
    }
    assert out[1] == "contact me at <EMAIL> or <PHONE>"
    assert out[2] == "server <IP> logs at <URL> end"
    assert out[3] == "no pii here just words"
    assert out[4] == "tabs and spaces and ctl"


def test_unigram_perplexity_semantics(spark):
    import math

    from model_presto_spark.operators.lm import perplexity_scores

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "zyx wvu tsr qpo"),  # all OOV at min_count=2
        (4, "   "),  # whitespace-only: no perplexity row
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in perplexity_scores(df, min_count=2).collect()}
    assert 4 not in out and set(out) == {1, 2, 3}
    # duplicate corpus-typical docs score identically and lower than
    # the all-OOV doc
    assert out[1].bits_per_token == out[2].bits_per_token
    assert out[1].bits_per_token < out[3].bits_per_token
    assert out[1].oov_ratio == 0.0 and out[3].oov_ratio == 1.0
    assert out[1].n_tokens == 6 and out[3].n_tokens == 4
    # closed form: corpus has N=16 tokens, vocab {the(4), cat(2),
    # sat(2), on(2), mat(2)} -> V=5, denominator N+V+1=22
    n, v = 16, 5
    lp = {"the": math.log(5 / 22), "cat": math.log(3 / 22),
          "oov": math.log(1 / 22)}
    expect1 = -(2 * lp["the"] + 4 * lp["cat"]) / 6 / math.log(2)
    assert abs(out[1].bits_per_token - expect1) < 1e-12
    expect3 = -lp["oov"] / math.log(2)
    assert abs(out[3].bits_per_token - expect3) < 1e-12


def test_tfidf_top_terms_distinctive_words(spark):
    from model_presto_spark.operators.lm import tfidf_top_terms

    rows = [
        (1, "a", "common words plus quantum flux quantum"),
        (2, "a", "common words plus quantum"),
        (3, "b", "common words plus farming soil farming"),
        (4, "b", "common words plus farming"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    top = {
        r.source: r.token
        for r in tfidf_top_terms(df, k=1).collect()
    }
    # the group-exclusive term wins over corpus-wide stopwords
    assert top == {"a": "quantum", "b": "farming"}


def test_check_constraints_rules(spark):
    from model_presto_spark.operators.profile import check_constraints

    rows = [
        (1, "O", 10.0), (2, "F", -5.0), (2, "X", 20.0), (4, None, None),
    ]
    df = spark.createDataFrame(rows, "k bigint, status string, amount double")
    out = {
        (r.rule, r.col_name): (r.violations, r.passed)
        for r in check_constraints(
            df,
            [
                {"type": "not_null", "column": "status"},
                {"type": "min", "column": "amount", "value": 0},
                {"type": "accepted_values", "column": "status",
                 "values": ["O", "F"]},
                {"type": "unique", "column": "k"},
            ],
        ).collect()
    }
    assert out[("not_null", "status")] == (1, False)
    assert out[("min", "amount")] == (2, False)      # -5 and the null
    assert out[("accepted_values", "status")] == (2, False)  # X + null
    assert out[("unique", "k")] == (2, False)        # both k=2 rows
    clean = check_constraints(
        df.where("k = 1"), [{"type": "unique", "column": "k"},
                            {"type": "not_null", "column": "status"}]
    ).collect()
    assert all(r.passed and r.violations == 0 for r in clean)


def test_profile_columns_single_pass(spark):
    from model_presto_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 6.0)], "a bigint, b double"
    )
    prof = profile_columns(df, ["a", "b"])
    vals = {(r.col_name, r.metric): r.value for r in prof.collect()}
    assert vals[("a", "n")] == 3 and vals[("a", "n_null")] == 0
    assert vals[("b", "n_null")] == 1 and vals[("b", "mean")] == 4.0
    assert vals[("a", "approx_distinct")] == 3.0
    # single pass: all metrics fold into one aggregate over one scan
    # (partial aggregation present; no Expand — the count_distinct
    # trap this operator deliberately avoids)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan and "Expand" not in plan


def test_psi_drift(spark):
    import numpy as np

    from model_presto_spark.operators.profile import psi_drift

    rng = np.random.default_rng(9)
    ref = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 2000)], "x double"
    )
    same = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 2000)], "x double"
    )
    shifted = spark.createDataFrame(
        [(float(x),) for x in rng.normal(1.0, 1, 2000)], "x double"
    )

    def psi(cur):
        rows = psi_drift(ref, cur, "x", n_buckets=10).collect()
        total = [r for r in rows if r.bucket is None]
        buckets = [r for r in rows if r.bucket is not None]
        # ref shares are equi-depth by construction
        assert all(abs(r.p_ref - 0.1) < 0.02 for r in buckets)
        assert abs(sum(r.p_cur for r in buckets) - 1.0) < 1e-9
        return total[0].contrib

    assert psi(same) < 0.05        # same distribution: stable
    assert psi(shifted) > 0.25     # 1-sigma mean shift: actionable


def test_dedup_corpus_end_to_end(spark):
    from model_presto_spark.operators.dedup import dedup_corpus

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the rain keeps falling on the quiet empty streets"
    )
    rows = [
        (1, base),
        (2, base.replace("quiet", "silent")),       # near-dup of 1
        (3, base.replace("rain", "snow")),          # near-dup of 1
        (4, "completely different content about spark query engines "
            "and distributed columnar execution at scale"),
        (5, "another unrelated document mentioning satellites and "
            "monthly composites over west africa croplands"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = {
        r.doc_id
        for r in dedup_corpus(
            df, "doc_id", "text", method="minhash", threshold=0.6
        ).collect()
    }
    # the {1,2,3} cluster collapses to its min id; 4 and 5 survive
    assert kept == {1, 4, 5}
    # ngram path agrees on this corpus
    kept_ng = {
        r.doc_id
        for r in dedup_corpus(
            df, "doc_id", "text", method="ngram", threshold=0.5
        ).collect()
    }
    assert kept_ng == {1, 4, 5}


# ---------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. fixed-k window-hash form)
# ---------------------------------------------------------------------------


@pytest.fixture()
def span_docs(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, f"unique one two three {shared} tail words here", ),
        (2, f"other opening phrase {shared} closing different run", ),
        (3, "entirely unrelated text with no repeats at all whatsoever", ),
        (4, "short doc", ),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_span_dup_stats(span_docs):
    from model_presto_spark.operators.dedup import span_dup_stats

    out = {r.doc_id: r for r in span_dup_stats(span_docs, k=8).collect()}
    assert set(out) == {1, 2, 3, 4}
    # every doc appears; the short doc has zero windows
    assert out[4].n_windows == 0 and out[4].dup_windows == 0
    assert out[4].dup_fraction == 0.0
    # the unrelated doc has windows but none duplicated
    assert out[3].n_windows > 0 and out[3].dup_windows == 0
    # docs 1 and 2 share a 10-token run -> 3 duplicated 8-windows each
    assert out[1].dup_windows == 3 and out[2].dup_windows == 3
    assert 0.0 < out[1].dup_fraction < 1.0


def test_remove_dup_spans(span_docs):
    from model_presto_spark.operators.dedup import remove_dup_spans

    out = {r.doc_id: r for r in remove_dup_spans(span_docs, k=8).collect()}
    # the shared run is cut from BOTH docs; unique prefixes survive
    assert "charlie" not in out[1].text and "charlie" not in out[2].text
    assert out[1].text.startswith("unique one two three")
    assert out[2].text.startswith("other opening phrase")
    # untouched docs come back verbatim (token-joined)
    assert out[3].text == span_docs.filter("doc_id = 3").first().text
    assert out[4].text == "short doc"
    assert out[4].n_tokens_kept == out[4].n_tokens == 2
    # kept counts are consistent
    for r in out.values():
        assert r.n_tokens_kept == len(r.text.split())


def test_remove_dup_spans_within_doc_repeat(spark):
    from model_presto_spark.operators.dedup import remove_dup_spans

    run = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{run} middle filler words {run}")],
        "doc_id bigint, text string",
    )
    out = remove_dup_spans(df, k=8).first()
    # the 8-token run repeats within the same doc -> both occurrences cut
    assert out.text == "middle filler words"


# ---------------------------------------------------------------------------
# Fuzzy entity linkage with blocking
# ---------------------------------------------------------------------------


def test_blocked_fuzzy_join_best_match(spark):
    from model_presto_spark.operators.linkage import blocked_fuzzy_join

    dirty = spark.createDataFrame(
        [
            (1, "12345", "jonh smith"),    # typo of "john smith"
            (2, "12345", "jane doe"),      # exact
            (3, "99999", "john smith"),    # right name, wrong block
            (4, "12345", "zzz qqq vvv"),   # no candidate within cap
        ],
        "rec_id bigint, zip string, name string",
    )
    registry = spark.createDataFrame(
        [
            ("12345", "john smith"),
            ("12345", "jane doe"),
            ("12345", "joan doe"),
            ("54321", "john smith"),
        ],
        "r_zip string, r_name string",
    )
    out = {
        r.rec_id: r
        for r in blocked_fuzzy_join(
            dirty,
            registry,
            block_on=[("zip", "r_zip")],
            fuzzy_on=("name", "r_name"),
            max_edit=2,
            left_key="rec_id",
        ).collect()
    }
    assert out[1].r_name == "john smith" and out[1].edit_distance == 2
    assert out[2].r_name == "jane doe" and out[2].edit_distance == 0
    # blocking is strict: record 3's zip has no registry entries
    assert 3 not in out
    # nothing within the edit cap
    assert 4 not in out


def test_blocked_fuzzy_join_tie_break_deterministic(spark):
    from model_presto_spark.operators.linkage import blocked_fuzzy_join

    dirty = spark.createDataFrame(
        [(1, "b", "jane dot")], "rec_id bigint, blk string, name string"
    )
    registry = spark.createDataFrame(
        [("b", "jane doe"), ("b", "jane dog")],
        "r_blk string, r_name string",
    )
    # both candidates at distance 1 -> lexicographically smaller wins
    row = blocked_fuzzy_join(
        dirty,
        registry,
        block_on=[("blk", "r_blk")],
        fuzzy_on=("name", "r_name"),
        max_edit=2,
        left_key="rec_id",
    ).first()
    assert row.r_name == "jane doe"


def test_blocked_fuzzy_join_broadcasts_small_registry(spark):
    """The registry side must broadcast: the dirty stream is never
    shuffled by block key when the registry fits in memory."""
    from pyspark.sql import functions as F

    from model_presto_spark.operators.linkage import blocked_fuzzy_join

    dirty = spark.range(1000).select(
        F.col("id").alias("rec_id"),
        (F.col("id") % 7).cast("string").alias("blk"),
        F.concat(F.lit("name"), (F.col("id") % 13).cast("string")).alias(
            "name"
        ),
    )
    registry = spark.createDataFrame(
        [(str(i), f"name{i}") for i in range(7)],
        "r_blk string, r_name string",
    )
    plan = blocked_fuzzy_join(
        dirty,
        registry,
        block_on=[("blk", "r_blk")],
        fuzzy_on=("name", "r_name"),
        max_edit=2,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Privacy / governance: k-anonymity + snapshot diff
# ---------------------------------------------------------------------------


def test_k_anonymize_suppresses_small_classes(spark):
    from model_presto_spark.operators.privacy import k_anonymize

    rows = [(i, "US", "A") for i in range(5)]          # class of 5
    rows += [(10, "FR", "A"), (11, "FR", "A")]         # class of 2
    rows += [(20, "DE", "B")]                          # class of 1
    df = spark.createDataFrame(rows, "id bigint, country string, seg string")
    out = {r.id: r for r in k_anonymize(df, ["country", "seg"], k=3).collect()}
    for i in range(5):
        assert out[i].country == "US" and not out[i].suppressed
    for i in (10, 11, 20):
        assert out[i].country is None and out[i].seg is None
        assert out[i].suppressed
    # non-QI columns survive suppression
    assert out[20].id == 20


def test_diff_snapshots_classifies_all_cases(spark):
    from model_presto_spark.operators.privacy import diff_snapshots

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], "k bigint, v string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], "k bigint, v string"
    )
    for fast in (True, False):
        got = {
            r.k: r.change
            for r in diff_snapshots(old, new, "k", fast_hash=fast).collect()
        }
        assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_bm25_hand_computed_golden(spark):
    """BM25 on a 3-doc corpus equals the formula computed by hand,
    and ranks the focused doc first."""
    import math

    import pytest

    from model_presto_spark.operators.lm import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog"),
            (2, "cat dog bird fish mouse horse"),
            (3, "dog bird fish mouse horse cow"),
        ],
        "doc_id bigint, text string",
    )
    q = spark.createDataFrame([(1, "cat")], "query_id bigint, qtext string")
    got = {
        r.doc_id: r.score
        for r in bm25_scores(docs, q, k1=1.2, b=0.75).collect()
    }
    n, k1, b = 3, 1.2, 0.75
    avgdl = (4 + 6 + 6) / 3
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def s(tf, dl):
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert set(got) == {1, 2}  # doc 3 has no query term
    assert got[1] == pytest.approx(s(3, 4), rel=1e-12)
    assert got[2] == pytest.approx(s(1, 6), rel=1e-12)
    assert got[1] > got[2]  # higher tf, shorter doc wins


def test_k_anonymize_null_qi_class_suppressed(spark):
    """Rows with NULL quasi-identifiers form a real equivalence
    class: a small null-QI class must be suppressed, not fail open
    through a non-null-safe join."""
    from model_presto_spark.operators.privacy import k_anonymize

    rows = [(1, None, "A"), (2, None, "A")] + [
        (10 + i, "US", "B") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "id bigint, country string, seg string")
    out = {r.id: r for r in k_anonymize(df, ["country", "seg"], k=3).collect()}
    assert out[1].suppressed is True and out[2].suppressed is True
    assert out[1].seg is None  # the non-null QI member is suppressed too
    for i in range(5):
        assert out[10 + i].suppressed is False


def test_blocked_fuzzy_join_same_column_names(spark):
    """Self-join-shaped linkage where both sides share column names
    must not hit ambiguous references."""
    from model_presto_spark.operators.linkage import blocked_fuzzy_join

    left = spark.createDataFrame(
        [(1, "b1", "jonh")], "rec_id bigint, blk string, name string"
    )
    right = spark.createDataFrame(
        [(9, "b1", "john")], "rec_id bigint, blk string, name string"
    )
    row = blocked_fuzzy_join(
        left, right,
        block_on=[("blk", "blk")],
        fuzzy_on=("name", "name"),
        max_edit=2,
        left_key="rec_id",
    ).first()
    assert row.edit_distance == 2


def test_cooccurrence_pmi_golden_and_guard(spark):
    import math

    import pytest

    from model_presto_spark.operators.assoc import cooccurrence_pmi

    # contexts: c1={a,b}, c2={a,b}, c3={a,c}, c4={b} -> N=4
    rows = [
        (1, "a"), (1, "b"), (1, "b"),  # duplicate occurrence: set semantics
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    df = spark.createDataFrame(rows, "ctx bigint, item string")
    out = {
        (r.item_a, r.item_b): r
        for r in cooccurrence_pmi(df, ["ctx"], "item").collect()
    }
    # n_a=3, n_b=3, n_ab=2, N=4 -> pmi = ln(2*4/9)
    assert out[("a", "b")].n_ab == 2
    assert out[("a", "b")].pmi == pytest.approx(math.log(8 / 9), rel=1e-12)
    assert out[("a", "c")].n_ab == 1
    assert out[("a", "c")].pmi == pytest.approx(math.log(4 / 3), rel=1e-12)
    assert ("b", "c") not in out  # never co-occur

    # context-size guard: a mega-context is dropped entirely
    mega = [(9, f"i{j}") for j in range(20)]
    df2 = spark.createDataFrame(rows + mega, "ctx bigint, item string")
    capped = cooccurrence_pmi(df2, ["ctx"], "item", max_context_items=5)
    got = {(r.item_a, r.item_b) for r in capped.collect()}
    assert got == {("a", "b"), ("a", "c")}


def test_multi_pass_fuzzy_join_recovers_corrupted_block_key(spark):
    """A record whose zip (block key) is corrupted is unfindable by
    zip-blocking alone but links through the city-blocking pass."""
    import pytest

    from model_presto_spark.operators.linkage import multi_pass_fuzzy_join

    dirty = spark.createDataFrame(
        [
            (1, "12345", "springfield", "jonh smith"),   # good zip
            (2, "99999", "springfield", "jane doe"),     # corrupted zip
        ],
        "rec_id bigint, zip string, city string, name string",
    )
    registry = spark.createDataFrame(
        [
            ("12345", "springfield", "john smith"),
            ("12345", "springfield", "jane doe"),
        ],
        "r_zip string, r_city string, r_name string",
    )
    single = multi_pass_fuzzy_join(
        dirty, registry,
        block_passes=[[("zip", "r_zip")]],
        fuzzy_on=("name", "r_name"), max_edit=2, left_key="rec_id",
    )
    assert {r.rec_id for r in single.collect()} == {1}
    multi = multi_pass_fuzzy_join(
        dirty, registry,
        block_passes=[[("zip", "r_zip")], [("city", "r_city")]],
        fuzzy_on=("name", "r_name"), max_edit=2, left_key="rec_id",
    )
    got = {r.rec_id: r.r_name for r in multi.collect()}
    assert got == {1: "john smith", 2: "jane doe"}
    # dedup across passes: record 1 matches through BOTH schemes but
    # appears once
    assert multi.count() == 2
    with pytest.raises(ValueError, match="at least one"):
        multi_pass_fuzzy_join(dirty, registry, [], ("name", "r_name"))


def test_multi_pass_fuzzy_join_shared_column_names(spark):
    """Identical schemas on both sides (self-join-shaped linkage)
    must work through the multi-pass wrapper too."""
    from model_presto_spark.operators.linkage import multi_pass_fuzzy_join

    left = spark.createDataFrame(
        [(1, "b1", "x", "jonh")],
        "rec_id bigint, blk string, blk2 string, name string",
    )
    right = spark.createDataFrame(
        [(9, "b1", "y", "john"), (8, "zz", "x", "john")],
        "rec_id bigint, blk string, blk2 string, name string",
    )
    out = multi_pass_fuzzy_join(
        left, right,
        block_passes=[[("blk", "blk")], [("blk2", "blk2")]],
        fuzzy_on=("name", "name"),
        max_edit=2,
        left_key="rec_id",
    ).collect()
    assert len(out) == 1 and out[0].edit_distance == 2


def test_frequent_itemsets_golden_and_pruning(spark):
    from model_presto_spark.operators.assoc import frequent_itemsets

    # baskets: {a,b,c} x3, {a,b} x2, {d} x1
    rows = []
    bid = 0
    for _ in range(3):
        rows += [(bid, "a"), (bid, "b"), (bid, "c")]; bid += 1
    for _ in range(2):
        rows += [(bid, "a"), (bid, "b")]; bid += 1
    rows += [(bid, "d")]
    df = spark.createDataFrame(rows, "ctx bigint, item string")

    out = {
        (r.item1, r.item2, r.item3): r.support
        for r in frequent_itemsets(df, ["ctx"], "item", min_count=3).collect()
    }
    assert out == {
        ("a", None, None): 5,
        ("b", None, None): 5,
        ("c", None, None): 3,
        ("a", "b", None): 5,
        ("a", "c", None): 3,
        ("b", "c", None): 3,
        ("a", "b", "c"): 3,
    }
    # 'd' (support 1) pruned at level 1 and never joins upward
    assert ("d", None, None) not in out
    # higher threshold prunes the triple but keeps the strong pair
    out4 = {
        (r.item1, r.item2, r.item3): r.support
        for r in frequent_itemsets(df, ["ctx"], "item", min_count=4).collect()
    }
    assert set(out4) == {("a", None, None), ("b", None, None), ("a", "b", None)}

    import pytest

    with pytest.raises(ValueError, match="max_size"):
        frequent_itemsets(df, ["ctx"], "item", 1, max_size=4)
