"""Unit/golden tests for the round-4 operators: line-level
boilerplate dedup, containment pairs, DSIR, token divergence,
label propagation, Kaplan-Meier. (The oracle parity of the q103-q108
query forms is covered by test_queries_oracle.py; these tests pin
the operator semantics on hand-computed fixtures, including modes
the queries don't exercise — e.g. delimiter segmentation.)"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# lines.py
# ---------------------------------------------------------------------------
def test_line_dedup_delimiter_mode(spark):
    from model_presto_spark.operators.lines import line_dedup_stats

    boiler = "accept all cookies"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha text\n{boiler}\nmore alpha"),
            (2, f"{boiler}\nbeta body"),
            (3, f"gamma body\n{boiler}"),
            (4, "delta only\nno shared line"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup_stats(docs, min_doc_freq=3).collect()
    }
    assert out[1]["n_lines"] == 3 and out[1]["boiler_lines"] == 1
    assert out[2]["n_lines"] == 2 and out[2]["boiler_lines"] == 1
    assert out[3]["boiler_lines"] == 1
    assert out[4]["boiler_lines"] == 0 and out[4]["boiler_fraction"] == 0.0
    assert out[2]["boiler_fraction"] == pytest.approx(0.5)


def test_line_dedup_normalization_and_within_doc_repeats(spark):
    from model_presto_spark.operators.lines import line_dedup_stats

    # normalized forms collide across case/whitespace; a line repeated
    # within one doc counts once toward doc frequency but every
    # instance is flagged
    docs = spark.createDataFrame(
        [
            (1, "Accept  ALL Cookies\nAccept all cookies\nbody one"),
            (2, "accept all cookies\nbody two"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup_stats(docs, min_doc_freq=2).collect()
    }
    assert out[1]["n_lines"] == 3 and out[1]["boiler_lines"] == 2
    assert out[2]["boiler_lines"] == 1


def test_remove_frequent_lines_preserves_order(spark):
    from model_presto_spark.operators.lines import remove_frequent_lines
    from model_presto_spark.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [
            (1, "keep one\nboiler line\nkeep two"),
            (2, "boiler line\nother body"),
            (3, "boiler line\nthird text"),
            (4, "\n   \n"),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_frequent_lines(docs, min_doc_freq=3).collect()
    }
    assert out[1]["text"] == "keep one\nkeep two"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines"] == 3
    assert out[2]["text"] == "other body"
    # a doc without a non-blank line comes back empty, not dropped,
    # from the operator and from the pipeline stage
    for i in (4, 5):
        assert tuple(out[i])[1:] == ("", 0, 0), i
    stage = CorpusPipeline([{"op": "line_boilerplate", "min_doc_freq": 3}])
    assert sorted(r["doc_id"] for r in stage.run(docs).collect()) == [
        1, 2, 3, 4, 5
    ]
    # all lines boilerplate => empty doc, not a dropped row
    only_boiler = spark.createDataFrame(
        [(1, "x\nx"), (2, "x"), (3, "x")], "doc_id bigint, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in remove_frequent_lines(only_boiler, min_doc_freq=3).collect()
    }
    assert rows[1]["text"] == "" and rows[1]["n_lines_kept"] == 0


def test_remove_frequent_lines_hashes_each_line_once(spark):
    """One fingerprint projection in the plan: the doc-frequency
    aggregate reads the persisted line hashes instead of hashing the
    line text a second time."""
    import re

    from model_presto_spark.operators.lines import remove_frequent_lines

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "a")], "doc_id bigint, text string"
    )
    plan = remove_frequent_lines(docs)._jdf.queryExecution().optimizedPlan()
    # the cached plan prints once per reference: count distinct nodes
    hashes = {
        re.sub(r"#\d+L?|^[\s:+*()\d-]+", "", line)
        for line in plan.toString().splitlines()
        if "xxhash64(" in line
    }
    assert len(hashes) == 1, hashes


def test_segment_by_width_covers_all_tokens(spark):
    from model_presto_spark.operators.lines import segment_by_width

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x")], "doc_id bigint, text string"
    )
    segs = segment_by_width(docs, width=3).collect()
    by_doc = {}
    for r in segs:
        by_doc.setdefault(r["doc_id"], []).append((r["line_no"], r["line"]))
    assert sorted(by_doc[1]) == [(0, "a b c"), (1, "d e f"), (2, "g")]
    assert by_doc[2] == [(0, "x")]


# ---------------------------------------------------------------------------
# dedup.ngram_containment_pairs
# ---------------------------------------------------------------------------
def test_containment_catches_subset_jaccard_misses(spark):
    from model_presto_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id bigint, text string"
    )
    cont = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.9
    ).collect()
    assert len(cont) == 1
    assert cont[0]["containment"] == pytest.approx(1.0)
    # Jaccard at the same strength threshold misses it
    jac = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.9
    ).collect()
    assert jac == []


def test_containment_stop_gram_cutoff(spark):
    from model_presto_spark.operators.dedup import ngram_containment_pairs

    # every doc shares the same single 3-gram; max_doc_freq below the
    # corpus size suppresses all pairs
    docs = spark.createDataFrame(
        [(i, "common tri gram") for i in range(5)],
        "doc_id bigint, text string",
    )
    out = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, max_doc_freq=4
    ).collect()
    assert out == []


def test_containment_prefix_filter_matches_bruteforce(spark):
    """The prefix+positional candidate generator must be EXACT: every
    pair the naive all-pairs computation finds, at several thresholds
    (including ones where ceil(t*n) floats just above an integer)."""
    import itertools
    import random

    from model_presto_spark.operators.dedup import ngram_containment_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for i in range(60):
        n_words = rng.randint(5, 35)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n_words)))
    # plant doc-inside-doc cases
    texts[50] = texts[0] + " " + texts[1]
    texts[51] = texts[2]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )

    def brute(threshold, max_doc_freq):
        def grams(t):
            toks = t.split()
            return {
                " ".join(toks[i : i + 3])
                for i in range(max(len(toks) - 2, 1))
            }

        gs = [grams(t) for t in texts]
        df_count = {}
        for g in gs:
            for x in g:
                df_count[x] = df_count.get(x, 0) + 1
        out = set()
        for a, b in itertools.combinations(range(len(texts)), 2):
            shared = {
                x
                for x in gs[a] & gs[b]
                if 2 <= df_count[x] <= max_doc_freq
            }
            m = min(len(gs[a]), len(gs[b]))
            if m and len(shared) / m >= threshold:
                out.add((a, b))
        return out

    for t in (0.3, 0.5, 0.6, 0.8):
        got = {
            (r["id_a"], r["id_b"])
            for r in ngram_containment_pairs(
                docs, "doc_id", "text", n=3, threshold=t,
                max_doc_freq=40, fast_hash=True,
            ).collect()
        }
        assert got == brute(t, 40), f"threshold {t}"


def test_minhash_signature_screen_exact_scores(spark):
    """signature_screen must not change precision: every emitted pair
    carries the same exact-verified jaccard as the unscreened path,
    and on a corpus of clear dups (J far above the screen's rejection
    band) the pair SETS match too."""
    from model_presto_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "!"),
            (3, base.replace("quick", "rapid")),
            (4, "completely different text about spark shuffles and joins"),
            (5, "another unrelated document mentioning parquet files only"),
        ],
        "doc_id bigint, text string",
    )
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    screened = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, signature_screen=0.25
        ).collect()
    }
    assert (1, 2) in plain
    assert set(screened) == set(plain)
    for k, v in screened.items():
        assert plain[k] == pytest.approx(v)


def test_ngram_jaccard_prefix_filter_matches_bruteforce(spark):
    """The symmetric prefix+positional+size-compat candidate generator
    must be EXACT: same pair set and scores as the naive all-pairs
    computation, across thresholds (incl. float-edge t*n values)."""
    import itertools
    import random

    from model_presto_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(13)
    vocab = [f"v{i}" for i in range(25)]
    texts = []
    for i in range(60):
        n_words = rng.randint(5, 30)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n_words)))
    # planted near-dups: light edits of earlier docs
    for j in (40, 41, 42):
        w = texts[j - 40].split()
        if len(w) > 3:
            w[1] = "edited"
        texts[j] = " ".join(w)
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )

    def brute(threshold, max_doc_freq):
        def grams(t):
            toks = t.split()
            return {
                " ".join(toks[i : i + 3])
                for i in range(max(len(toks) - 2, 1))
            }

        gs = [grams(t) for t in texts]
        df_count = {}
        for g in gs:
            for x in g:
                df_count[x] = df_count.get(x, 0) + 1
        out = set()
        for a, b in itertools.combinations(range(len(texts)), 2):
            shared = {
                x for x in gs[a] & gs[b] if 2 <= df_count[x] <= max_doc_freq
            }
            denom = len(gs[a]) + len(gs[b]) - len(shared)
            if shared and denom and len(shared) / denom >= threshold:
                out.add((a, b))
        return out

    for t in (0.2, 0.4, 0.6, 0.8):
        for mode in ("bucket", "prefix"):
            got = {
                (r["id_a"], r["id_b"])
                for r in ngram_jaccard_pairs(
                    docs, "doc_id", "text", n=3, threshold=t,
                    max_doc_freq=40, fast_hash=True, candidates=mode,
                ).collect()
            }
            assert got == brute(t, 40), f"threshold {t} mode {mode}"


def test_zero_token_docs_have_no_ngrams(spark):
    """Whitespace-only and NULL documents have no word n-grams, so they
    pair with nothing (as in the q34 oracle, and as jaccard_sql scores
    two empty sets 0.0): only the two copies of the real text pair up,
    and the n-gram dedup keeps every empty document. Outside ANSI mode,
    where size(NULL) is -1, a NULL document has no grams either."""
    from model_presto_spark.functions.text import tokens_sql, word_ngrams_sql
    from model_presto_spark.operators.dedup import (
        dedup_corpus,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, text), (4, "\t\n"), (5, text), (6, None)],
        "doc_id bigint, text string",
    )
    toks = docs.selectExpr("doc_id", f"{tokens_sql('text')} AS toks")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", mode)
        try:
            grams = toks.selectExpr("doc_id", f"{word_ngrams_sql('toks')} AS g")
            assert {r.doc_id: len(r.g) for r in grams.collect()} == {
                1: 0, 2: 0, 3: 7, 4: 0, 5: 7, 6: 0
            }, mode
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
    for t in (0.3, 0.8):  # the bucket and the prefix generator
        got = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=t)
        assert [tuple(r) for r in got.collect()] == [(3, 5, 1.0)], t
    got = ngram_containment_pairs(
        docs, "doc_id", "text", threshold=0.8, candidates="index"
    )
    assert [(r.id_a, r.id_b, r.containment) for r in got.collect()] == [
        (3, 5, 1.0)
    ]
    kept = dedup_corpus(docs, "doc_id", "text", method="ngram")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3, 4, 6]


def test_containment_lsh_candidates_skip_empty_docs(spark, monkeypatch):
    """A doc without grams has the all-sentinel MinHash signature and
    would share every band with every other such doc: neither LSH
    generator may put one in a candidate pair."""
    from model_presto_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, text), (4, "\t\n"), (5, text)],
        "doc_id bigint, text string",
    )
    seen = []
    band = dedup._band_candidates

    def spy(*a, **kw):
        seen.append(band(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(dedup, "_band_candidates", spy)
    for mode in ("lsh", "lsh_ensemble"):
        got = dedup.ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.8, candidates=mode
        )
        assert [(r.id_a, r.id_b) for r in got.collect()] == [(3, 5)], mode
    (cand,) = seen  # the lsh generator's band stage
    assert sorted(tuple(r) for r in cand.collect()) == [(3, 5)]


def test_containment_lsh_mode_recall_and_exact_scores(spark):
    """candidates='lsh' must score found pairs identically to the
    exact mode (precision is exact; only recall may differ)."""
    from model_presto_spark.operators.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words only here now")],
        "doc_id bigint, text string",
    )
    exact = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["containment"])
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.9
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["containment"])
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.9, candidates="lsh"
        ).collect()
    }
    assert (1, 2) in exact
    # every lsh pair exists in exact with the same score
    for k, v in lsh.items():
        assert exact[k][0] == v[0]
        assert exact[k][1] == pytest.approx(v[1])
    # on this corpus (full containment, similar gram sets) recall is 1.0
    assert set(lsh) == set(exact)


# ---------------------------------------------------------------------------
# dsir.py
# ---------------------------------------------------------------------------
def test_dsir_weights_prefer_target_like_docs(spark):
    from model_presto_spark.operators.dsir import dsir_sample, dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "physics quantum field theory lattice") for i in range(5)],
        "doc_id bigint, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "physics quantum field notes"),
            (2, "cooking pasta recipe tomato basil"),
            (3, "quantum lattice theory seminar"),
            (4, "football match report goals"),
        ],
        "doc_id bigint, text string",
    )
    w = {r["doc_id"]: r["log_weight"] for r in dsir_weights(raw, target).collect()}
    assert min(w[1], w[3]) > max(w[2], w[4])
    # deterministic: same seed => same selection, different seed may differ
    s1 = [r["doc_id"] for r in dsir_sample(raw, target, k=2, seed=7).collect()]
    s2 = [r["doc_id"] for r in dsir_sample(raw, target, k=2, seed=7).collect()]
    assert s1 == s2 and len(s1) == 2


def test_dsir_weight_value_matches_hand_formula(spark):
    from model_presto_spark.operators.dsir import dsir_weights

    # one-token docs, large bucket space => no collisions in practice;
    # verify the add-1 smoothed LLR sum by recomputing in python
    raw = spark.createDataFrame(
        [(1, "aa"), (2, "bb")], "doc_id bigint, text string"
    )
    target = spark.createDataFrame([(9, "aa")], "doc_id bigint, text string")
    B = 64
    rows = {r["doc_id"]: r for r in dsir_weights(raw, target, n_buckets=B).collect()}
    # raw: each doc has feats [tok, tok] (unigram + degenerate bigram)
    # raw corpus counts: aa bucket 2, bb bucket 2, g_raw = 4
    # target: aa bucket 2, g_tgt = 2
    lp_raw = math.log(3) - math.log(4 + B)
    lp_tgt_aa = math.log(3) - math.log(2 + B)
    lp_tgt_absent = -math.log(2 + B)
    assert rows[1]["log_weight"] == pytest.approx(2 * (lp_tgt_aa - lp_raw), rel=1e-9)
    assert rows[2]["log_weight"] == pytest.approx(
        2 * (lp_tgt_absent - lp_raw), rel=1e-9
    )
    assert rows[1]["n_feats"] == 2


# ---------------------------------------------------------------------------
# profile.token_divergence
# ---------------------------------------------------------------------------
def test_token_divergence_identical_group_near_zero(spark):
    from model_presto_spark.operators.profile import token_divergence

    docs = spark.createDataFrame(
        [
            ("a", "x y z x y z"),
            ("b", "x y z x y z"),
            ("c", "p p p p p p"),
        ],
        "source string, text string",
    )
    out = {r["source"]: r for r in token_divergence(docs, "source").collect()}
    # groups a and b have identical distributions; c is the outlier
    assert out["a"]["kl_nats"] == pytest.approx(out["b"]["kl_nats"])
    assert out["c"]["kl_nats"] > out["a"]["kl_nats"]
    assert out["a"]["n_tokens"] == 6 and out["a"]["n_types"] == 3
    # cross-entropy >= entropy-ish sanity: CE >= KL always (CE = H + KL)
    for r in out.values():
        assert r["cross_entropy_nats"] >= r["kl_nats"]


# ---------------------------------------------------------------------------
# graph.label_propagation
# ---------------------------------------------------------------------------
def test_label_propagation_two_cliques(spark):
    from model_presto_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: LPA keeps two
    # communities (each triangle converges to its min label)
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {r["node"]: r["label"] for r in label_propagation(e, n_iter=4).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != out[1]


def test_label_propagation_deterministic_ties(spark):
    from model_presto_spark.operators.graph import label_propagation

    # a path a-b-c: b's neighbors {a,c} tie at count 1 -> min label
    e = spark.createDataFrame([(5, 6), (6, 7)], "src bigint, dst bigint")
    out1 = sorted(label_propagation(e, n_iter=1).collect())
    out2 = sorted(label_propagation(e, n_iter=1).collect())
    assert out1 == out2
    lbl = {r["node"]: r["label"] for r in out1}
    assert lbl[6] == 5  # min of {5, 7}


# ---------------------------------------------------------------------------
# temporal.kaplan_meier
# ---------------------------------------------------------------------------
def test_kaplan_meier_textbook_example(spark):
    from model_presto_spark.operators.temporal import kaplan_meier

    # classic small example: events at t=1 (2 of 10), censor at t=2,
    # event at t=3 (1 of 7), censor at t=4, events at t=5 (2 of 5)
    subj = (
        [(1, 1)] * 2
        + [(2, 0)]
        + [(3, 1)]
        + [(4, 0)]
        + [(5, 1)] * 2
        + [(6, 0)] * 3
    )
    df = spark.createDataFrame(subj, "dur int, ev int")
    out = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert set(out) == {1, 3, 5}
    assert out[1]["n_risk"] == 10 and out[1]["n_events"] == 2
    s1 = 1 - 2 / 10
    assert out[1]["survival"] == pytest.approx(s1)
    s3 = s1 * (1 - 1 / 7)
    assert out[3]["survival"] == pytest.approx(s3)
    s5 = s3 * (1 - 2 / 5)
    assert out[5]["survival"] == pytest.approx(s5)


def test_kaplan_meier_everyone_dies_reaches_zero(spark):
    from model_presto_spark.operators.temporal import kaplan_meier

    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1)], "dur int, ev int"
    )
    out = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert out[2]["survival"] == 0.0
    assert out[1]["survival"] == pytest.approx(1 / 3)


# ---------------------------------------------------------------------------
# lm.rrf_fuse
# ---------------------------------------------------------------------------
def test_rrf_fuse_hand_computed(spark):
    from model_presto_spark.operators.lm import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id bigint, doc_id bigint, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id bigint, doc_id bigint, rank int",
    )
    out = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60).collect()}
    assert out[11]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61)
    assert out[10]["rrf_score"] == pytest.approx(1 / 61)
    assert out[13]["n_rankers"] == 1 and out[11]["n_rankers"] == 2
    # doc in both rankers outranks single-ranker docs at similar ranks
    top = rrf_fuse([a, b], k=60, top_k=1).collect()
    assert top[0]["doc_id"] == 11 and top[0]["rank"] == 1


# ---------------------------------------------------------------------------
# dedup.semantic_dedup
# ---------------------------------------------------------------------------
def test_semantic_dedup_flags_near_dups_keeps_representative(spark):
    from model_presto_spark.operators.dedup import semantic_dedup

    dim = 8
    base = [1.0] * dim
    near = [1.0] * (dim - 1) + [0.9]
    anti = [-1.0] * dim
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, base), (4, anti)],
        "vec_id bigint, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, dim=dim, planes=4
        ).collect()
    }
    # 1,2,3 share a bucket-side (same hyperplane signs) and sit near
    # their centroid; exactly one of them is kept
    same = [out[i] for i in (1, 2, 3)]
    assert len({r["bucket"] for r in same}) == 1
    flags = sorted(r["is_semantic_dup"] for r in same)
    assert flags == [False, True, True]
    # the kept one is the highest cosine (tie -> min id): ids 1 and 3
    # are identical vectors, so id 1 is the representative
    assert out[1]["is_semantic_dup"] is False
    # the anti vector is alone in its bucket: never a dup
    assert out[4]["is_semantic_dup"] is False
    assert out[4]["bucket"] != out[1]["bucket"]


def test_semantic_dedup_with_explicit_assignments(spark):
    from model_presto_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    assign = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 9)], "vec_id bigint, bucket int"
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, assignments=assign
        ).collect()
    }
    assert out[1]["bucket"] == 7 and out[3]["bucket"] == 9
    assert [out[i]["is_semantic_dup"] for i in (1, 2, 3)] in (
        [False, True, False],
        [True, False, False],
    )


# ---------------------------------------------------------------------------
# CorpusPipeline integration of the round-4 stages
# ---------------------------------------------------------------------------
def test_pipeline_line_boilerplate_and_dsir_stages(spark):
    from model_presto_spark.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [
            (1, "physics quantum field\naccept all cookies", "s1"),
            (2, "accept all cookies\ncooking pasta recipe", "s1"),
            (3, "quantum lattice theory\naccept all cookies", "s1"),
            (4, "football match report", "s2"),
        ],
        "doc_id bigint, text string, source string",
    )
    target = spark.createDataFrame(
        [(100, "physics quantum lattice field theory")],
        "doc_id bigint, text string",
    )
    pipe = CorpusPipeline.from_json(
        """[
          {"op": "line_boilerplate", "min_doc_freq": 3, "fast_hash": false},
          {"op": "dsir_select", "target": "$tgt", "k": 2}
        ]""",
        tgt=target,
    )
    out = pipe.run(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 2
    # the boilerplate line is gone from surviving docs
    for r in out:
        assert "accept all cookies" not in r["text"]
    # DSIR keeps the physics-like docs
    assert set(by_id) <= {1, 3}


def test_pipeline_semantic_dedup_stage(spark):
    from model_presto_spark.pipeline import CorpusPipeline

    dim = 8
    rows = [
        (1, "a", [1.0] * dim),
        (2, "b", [1.0] * (dim - 1) + [0.9]),
        (3, "c", [-1.0] * dim),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, embedding array<float>"
    )
    pipe = CorpusPipeline(
        [{"op": "semantic_dedup", "threshold": 0.9, "dim": dim, "planes": 4}]
    )
    out = sorted(r["doc_id"] for r in pipe.run(docs).collect())
    assert out == [1, 3]


# ---------------------------------------------------------------------------
# dedup.winnow_fingerprints / winnow_shared_stats
# ---------------------------------------------------------------------------
def test_winnowing_guarantee_and_density(spark):
    from model_presto_spark.operators.dedup import (
        window_hashes,
        winnow_fingerprints,
        winnow_shared_stats,
    )

    k, w = 3, 4
    shared = " ".join(f"s{i}" for i in range(k + w - 1))  # >= w+k-1 tokens
    docs = spark.createDataFrame(
        [
            (1, "a b c d e " + shared + " x y z"),
            (2, "p q r " + shared + " m n"),
            (3, "totally different words only here now"),
        ],
        "doc_id bigint, text string",
    )
    fp = winnow_fingerprints(docs, k=k, w=w).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["whash"])
    # guarantee: a shared substring of >= w+k-1 tokens yields at
    # least one shared fingerprint
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    # density: far fewer fingerprints than window hashes
    n_windows = (
        window_hashes(docs, k).where(F.col("whash").isNotNull()).count()
    )
    assert len(fp) < n_windows
    stats = {r["doc_id"]: r for r in winnow_shared_stats(docs, k=k, w=w).collect()}
    assert stats[1]["shared_fp"] > 0 and stats[2]["shared_fp"] > 0
    assert stats[3]["shared_fp"] == 0


def test_winnowing_short_doc_gets_one_fingerprint(spark):
    from model_presto_spark.operators.dedup import winnow_fingerprints

    # 4 tokens, k=3 -> 2 window hashes, fewer than w=4 windows:
    # still exactly one fingerprint (the global min)
    docs = spark.createDataFrame(
        [(1, "a b c d")], "doc_id bigint, text string"
    )
    fp = winnow_fingerprints(docs, k=3, w=4).collect()
    assert len(fp) == 1


def test_winnowing_rightmost_tie_deterministic(spark):
    from model_presto_spark.operators.dedup import winnow_fingerprints

    # identical repeated window -> equal hashes tie; selection must be
    # deterministic across runs
    docs = spark.createDataFrame(
        [(1, "x y x y x y x y x y")], "doc_id bigint, text string"
    )
    a = sorted((r["pos"], r["whash"]) for r in winnow_fingerprints(docs, k=2, w=3).collect())
    b = sorted((r["pos"], r["whash"]) for r in winnow_fingerprints(docs, k=2, w=3).collect())
    assert a == b and len(a) >= 1


# ---------------------------------------------------------------------------
# lm.bigram_perplexity_scores
# ---------------------------------------------------------------------------
def test_bigram_lm_hand_computed(spark):
    import math as m

    from model_presto_spark.operators.lm import bigram_perplexity_scores

    # corpus: two docs. unigram counts: a:3 b:2 c:1, N=6
    # bigrams: (a,b):2 (b,a):1 (a,c):1; contexts: a:3 b:1
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b")], "doc_id bigint, text string"
    )
    lam = 0.5
    out = {
        r["doc_id"]: r
        for r in bigram_perplexity_scores(
            docs, lam=lam, min_count=1
        ).collect()
    }
    V, N = 3, 6

    def p1(tf):
        return (tf + 1.0) / (N + V + 1.0)

    def p(c_bi, c_prev, tf):
        return lam * c_bi / c_prev + (1 - lam) * p1(tf)

    # doc 2: one bigram (a,b): c_bi=2, c_prev(a)=3, tf(b)=2
    exp2 = -m.log(p(2, 3, 2)) / m.log(2)
    assert out[2]["bits_per_token"] == pytest.approx(exp2, rel=1e-12)
    assert out[2]["n_bigrams"] == 1
    # doc 1: bigrams (a,b),(b,a),(a,c)
    e = -(m.log(p(2, 3, 2)) + m.log(p(1, 1, 3)) + m.log(p(1, 3, 1))) / 3 / m.log(2)
    assert out[1]["bits_per_token"] == pytest.approx(e, rel=1e-12)


def test_bigram_lm_prefers_fluent_transitions(spark):
    from model_presto_spark.operators.lm import bigram_perplexity_scores

    fluent = [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)]
    salad = [(100, "dog the over quick lazy fox the brown jumps")]
    docs = spark.createDataFrame(
        fluent + salad, "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r["bits_per_token"] for r in bigram_perplexity_scores(docs).collect()}
    assert out[100] > out[0]


# ---------------------------------------------------------------------------
# quality.py — Gopher / C4 rule bundles
# ---------------------------------------------------------------------------
def test_gopher_flags_hand_cases(spark):
    from model_presto_spark.operators.quality import gopher_quality_flags

    good = " ".join(
        ["the quick brown fox jumps over a lazy dog near the river bank"] * 5
    )  # 65 words, mean len ~4, stopwords present, varied enough
    short = "tiny doc"
    symbols = " ".join(["woke ###### ... ..."] * 20)
    repeat = " ".join(["spam ham"] * 40)
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, repeat)],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert out[2]["r_word_count"] is False  # 2 words < 50
    assert out[3]["r_symbol"] is False  # # and ... dominate
    assert out[4]["r_top_2gram"] is False  # one bigram dominates
    assert out[1]["r_word_count"] and out[1]["r_stop"] and out[1]["r_alpha"]
    # metrics sanity
    assert out[1]["n_words"] == 65
    assert 3.0 <= out[1]["mean_word_len"] <= 10.0


def test_c4_flags_hand_cases(spark):
    from model_presto_spark.operators.quality import c4_quality_flags

    good = (
        "This is a full sentence with plenty of words here.\n"
        "Another proper sentence follows right after that one.\n"
        "And a third one closes the paragraph nicely today."
    )
    braces = "function f() { return 1; }"
    lorem = "Lorem ipsum dolor sit amet. More filler text here. Done now."
    fragments = "nav\nhome\nabout\ncontact"
    docs = spark.createDataFrame(
        [(1, good), (2, braces), (3, lorem), (4, fragments)],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in c4_quality_flags(docs).collect()}
    assert out[1]["c4_pass"] is True
    assert out[1]["n_sentences"] == 3
    assert out[1]["terminal_line_frac"] == 1.0
    assert out[2]["r_brace"] is False
    assert out[3]["r_lorem"] is False
    assert out[4]["r_sentences"] is False  # no terminal punctuation
    assert out[4]["r_short_lines"] is False  # every line < 5 words


# ---------------------------------------------------------------------------
# size-aware auto defaults (round-6: scale-safe modes ARE the default)
# ---------------------------------------------------------------------------
def test_dedup_auto_routing(spark):
    """Default mode args route by corpus size: exact paths below
    auto_min_docs (result-identical to the pinned exact calls), the
    screened/LSH scale paths at/above it (plans still execute; the
    scale paths are recall-measured in tools/stress_bench.py, not
    here)."""
    from model_presto_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_containment_pairs,
    )

    docs = spark.createDataFrame(
        [
            (
                i,
                f"alpha beta gamma delta epsilon zeta eta theta doc "
                f"{i % 7} tail {i % 5} words here now",
            )
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    # below the cutoff: auto == exact semantics, pair-for-pair
    auto_mh = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    )
    exact_mh = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, signature_screen=None
        ).collect()
    )
    assert auto_mh == exact_mh and auto_mh
    auto_ct = sorted(
        (r.id_a, r.id_b)
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6
        ).collect()
    )
    exact_ct = sorted(
        (r.id_a, r.id_b)
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="index"
        ).collect()
    )
    assert auto_ct == exact_ct and auto_ct
    # at/above the cutoff (forced low): the scale paths engage and the
    # screened minhash still finds the planted near-identical pair
    twin = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight"),
         (101, "the quick brown fox jumps over the lazy dog tonight!")],
        "doc_id long, text string",
    )
    scaled = minhash_lsh_pairs(
        docs.unionAll(twin), "doc_id", "text", threshold=0.5,
        auto_min_docs=10,
    )
    pairs = {(r.id_a, r.id_b) for r in scaled.collect()}
    assert (100, 101) in pairs
    n_lsh = ngram_containment_pairs(
        docs.unionAll(twin), "doc_id", "text", threshold=0.6,
        auto_min_docs=10,
    ).count()
    assert n_lsh > 0
    # bad mode strings still rejected
    with pytest.raises(ValueError):
        minhash_lsh_pairs(
            docs, "doc_id", "text", signature_screen="bogus"
        )
    with pytest.raises(ValueError):
        ngram_containment_pairs(docs, "doc_id", "text", candidates="bogus")
