"""Deduplication operators for training-data pipelines.

Exact dedup is one hash-groupBy on a normalized 60-bit fingerprint:
one shuffle of (key, id) pairs, never document bodies. Every
near-duplicate generator (MinHash LSH, n-gram Jaccard, shingle
containment, and the image/video twins in multimodal/dedup.py) is
built from one candidate core of plain relational steps, each
defined once as SQL text:

- **Band stage** (``_band_candidates``): MinHash signature → exploded
  band keys → groupBy(band, bucket) into a sorted member array →
  in-bucket pairs → dropDuplicates. Members are bare ids, or
  (id, sig) structs when a signature screen drops pairs whose
  Jaccard estimate is too low inside the bucket row. Used by
  ``minhash_lsh_pairs`` and containment ``candidates="lsh"``.
- **Pair expansion** (``_pairs_within_sql``, ``_chain_pairs_sql``):
  every (id_a < id_b) pair of a bucket, or the consecutive chain for
  a mega-bucket, with optional struct fields and a per-pair
  predicate. Each caller keeps its own cap rule.
- **n-gram index** (``_ngram_index``, ``_rare_first_docs``): hashed
  distinct grams, sizes and postings; per-doc eligible grams in
  global rare-first order for the prefix-filter generators, whose
  candidates share one exact verify join (``_verify_join``).

No generator enumerates O(n²) pairs: candidates come from bucket or
posting co-membership and are verified exactly, so precision never
depends on the generator. SimHash signatures, span dedup (Lee et
al.), winnowing and SemDeDup round out the families.

Reference: the reference system has no dedup (its records are keyed
by construction); these operators extend the engine for the
100 TB training-corpus use-case. Compare reference's idempotent
materialization keys (presto-tolbi/presto/dataops/dataset.py:63-117)
for the exact-key pattern.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

from model_presto_spark.io import spread
from model_presto_spark.functions.text import (
    char_shingles_sql,
    fingerprint60_sql,
    h60_fast_sql,
    h60_sql,
    hash_array_sql,
    jaccard_sql,
    lsh_band_keys_sql,
    minhash_signature_sql,
    simhash60_from_hashes,
    tokens_sql,
    word_ngrams_sql,
)


def _pair_struct_sql(a: str, b: str, key: str, extra: tuple[str, ...]) -> str:
    fields = [f"{a}{key} AS id_a", f"{b}{key} AS id_b"]
    fields += [f.format(a=a, b=b) for f in extra]
    return f"struct({', '.join(fields)})"


def _pairs_within_sql(
    ids: str, key: str = "", extra: tuple[str, ...] = (), where: str | None = None
) -> str:
    """All (id_a < id_b) pairs from a sorted member array — the in-bucket
    pair generator for inverted-index / LSH-bucket candidate mining.

    Members are bare ids, or structs whose ``key`` field (``".id"``)
    is the id and sorts first. ``extra`` adds pair-struct fields and
    ``where`` keeps only the pairs it holds for; both are SQL over the
    members ``{a}`` and ``{b}``. The predicate runs before the struct
    is built, so a rejected pair builds nothing: a bucket's random
    collisions stay codegen CPU inside the bucket row and never
    become rows."""
    bs = f"slice({ids}, i + 2, greatest(size({ids}), 1))"
    if where is not None:
        bs = f"filter({bs}, b -> {where.format(a='a', b='b')})"
    return (
        f"flatten(transform({ids}, (a, i) -> "
        f"transform({bs}, b -> {_pair_struct_sql('a', 'b', key, extra)})))"
    )


def _chain_pairs_sql(ids: str, key: str = "", extra: tuple[str, ...] = ()) -> str:
    """Consecutive (id_a < id_b) pairs from a sorted member array — O(d)
    edges that connect the same membership a full O(d²) pair set
    would, relying on transitive closure (operators/graph.py) for the
    cluster. The mega-bucket guard: a bucket of thousands of ids
    means thousands of near-identical documents, where enumerating
    every pair is pure waste. ``key``/``extra`` as in
    ``_pairs_within_sql``; chain pairs take no predicate (they exist
    for cluster recovery)."""
    b = f"element_at({ids}, i + 2)"
    return (
        f"transform(slice({ids}, 1, size({ids}) - 1), (a, i) -> "
        f"{_pair_struct_sql('a', b, key, extra)})"
    )


def _bucket_pairs_sql(
    ids: str, max_bucket_size: int, key: str = "", where: str | None = None
) -> str:
    """In-bucket candidate pairs: every pair (that ``where`` keeps) up
    to ``max_bucket_size`` members, the consecutive chain above it."""
    return (
        f"CASE WHEN size({ids}) <= {int(max_bucket_size)} "
        f"THEN {_pairs_within_sql(ids, key, where=where)} "
        f"ELSE {_chain_pairs_sql(ids, key)} END"
    )


def _band_candidates(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
    screen: float | None = None,
) -> DataFrame:
    """The band stage: (id_a, id_b) pairs of documents whose MinHash
    signatures (``sig``: id, sig) agree on every row of some band.

    The stage shuffles only (band, bucket, member) — never document
    bodies. Pairs are generated by grouping members per bucket rather
    than a self-join: a self-join would recompute the whole signature
    subtree for both sides (Spark does no cross-branch CSE) and
    shuffle it twice; groupBy computes signatures once and shuffles
    once. Bucket membership is tiny, so collect_list is safe; a
    pathological mega-bucket means a massive near-dup cluster and
    surfaces in AQE skew stats, not OOM. ``max_bucket_size`` caps
    members: a larger bucket emits its consecutive chain.

    Members are bare ids when ``screen`` is None. Otherwise they are
    (id, sig) structs and a pair survives only when its signatures
    agree on at least ``screen * num_hashes`` positions — the Jaccard
    estimate, checked inside the bucket row.
    """
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"bands must be between 1 and num_hashes={num_hashes}: {bands}"
        )
    rows_per_band = num_hashes // bands
    cols = ["id"] if screen is None else ["id", "sig"]
    # explode_outer: a plain explode gets an inferred size(...)>0
    # pre-filter that re-evaluates the generator's whole expression
    # tree a second time per row (here the band keys and the minhash
    # fold; at the pair expansion below the O(d^2) pair array). Both
    # arrays are never empty: band arrays by construction, pair
    # arrays because buckets are filtered size>1.
    banded = sig.selectExpr(
        *cols,
        f"explode_outer({lsh_band_keys_sql('sig', bands, rows_per_band)}) AS bk",
    ).selectExpr("bk.band AS band", "bk.bucket AS bucket", *cols)
    # a struct sorts field-lexicographically; id first => id order
    member = "id" if screen is None else "struct(id, sig)"
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.expr(f"array_sort(collect_list({member})) AS ids"))
        .where("size(ids) > 1")
    )
    if screen is None:
        pair_arr = _bucket_pairs_sql("ids", max_bucket_size)
    else:
        k_min = float(screen) * num_hashes - 1e-9
        matches = (
            "aggregate(zip_with({a}.sig, {b}.sig, "
            "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)"
        )
        pair_arr = _bucket_pairs_sql(
            "ids",
            max_bucket_size,
            key=".id",
            where=f"CAST({matches} AS DOUBLE) >= CAST({k_min!r} AS DOUBLE)",
        )
    # spread the bucket rows before the pair expansion: the bucket
    # aggregation's shuffle output is tiny in BYTES (a few thousand
    # rows of band/bucket/id-array), so AQE coalesces its read to
    # ~1 partition — and the C(d,2) Generate plus the dedup
    # partial-aggregate downstream would run on that one core (the
    # generator-side twin of the r07 verify-stream collapse). One
    # skinny shuffle of the bucket rows buys full-width expansion.
    return (
        spread(buckets)
        .selectExpr(f"explode_outer({pair_arr}) AS pr")
        .selectExpr("pr.id_a AS id_a", "pr.id_b AS id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint.

    Adds ``fingerprint`` and ``dup_count`` columns; one row per
    distinct fingerprint.
    """
    fp = df.selectExpr(id_col, f"{fingerprint60_sql(text_col)} AS fingerprint")
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    fast_hash: bool = False,
    max_bucket_size: int = 2000,
    signature_screen: float | None | str = "auto",
    auto_min_docs: int = 20000,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH, verified with
    exact Jaccard over shingle sets.

    ``signature_screen="auto"`` (the default) makes the scale-safe
    screened path the DEFAULT at corpus scale: one ``df.count()``
    probe job decides — corpora of ``auto_min_docs`` or more get
    ``screen = max(0, threshold - 0.25)`` (a 16-hash estimate screen
    at that margin false-rejects ~0.3% of true J=0.8 pairs; see
    below), smaller corpora keep the exact unscreened candidate
    semantics, where the random band-collision flood is affordable.
    Rationale: the flood grows with n² (measured s10→s30 stress
    exponent 1.401 unscreened vs 0.744 screened, recall 0.999), so a
    user calling the operator with defaults on a 150k-doc corpus must
    land on the sublinear path. Pass ``signature_screen=None``
    explicitly where exact candidate semantics are contractual
    (the q32/q169 oracles), or a float to pin the screen level.

    ``signature_screen`` as a float (explicit scale knob): estimate
    Jaccard from the ALREADY-computed MinHash signatures (fraction of
    equal positions) INSIDE the bucket pair expansion, and never emit
    a candidate whose estimate falls below the screen. Why it exists:
    band collisions between RANDOM pairs scale with n² (at a
    background J≈0.2, 4x4 banding collides ~4·J⁴ of all pairs —
    measured 5.9M candidates for 962 true pairs at 50k docs, 27.6M
    at 150k), and without the screen every one of them shuffles
    through dropDuplicates and two array-payload verify joins. With
    the screen the C(d,2) expansion still happens but as pure codegen
    CPU inside the bucket row (16 int comparisons per pair, no
    materialization): only survivors ever become rows. The trade is
    RECALL at the margin: a true pair at J=threshold can estimate low
    (Bin(num_hashes, J) tail — e.g. screen=threshold-0.25 with 16
    hashes false-rejects ~0.3% of J=0.8 pairs); precision is
    unaffected (survivors are still exactly verified).
    tools/stress_bench.py measures the screened twin's recall against
    the unscreened pair set per round. Leave None where the oracle
    contract requires the exact candidate semantics (q32).

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b and
    jaccard_sim >= threshold. Only bucket-collision candidates are
    verified — the exact-Jaccard step touches a tiny fraction of the
    pair space. ``fast_hash=True`` swaps the md5 shingle hash for
    native xxhash64 (~3-5x less CPU on the dominant hashing pass —
    the production setting at corpus scale); the md5 default is for
    cross-engine oracle reproducibility. Pair sets can differ
    marginally between the two (different hash -> different minhash
    candidate sampling), but both are verified by exact Jaccard over
    the same shingle-hash space, so precision is unaffected.

    ``max_bucket_size`` caps in-bucket pair enumeration by bucket
    MEMBERS: a bucket of d ids normally yields C(d,2) candidates, so
    one mega-bucket (d in the thousands — i.e. thousands of
    near-identical docs sharing a band signature) turns the candidate
    stage into an O(d²) hot task. Buckets with d > max_bucket_size
    emit the d-1 consecutive-id chain pairs instead; the transitive
    closure (graph.dedup_clusters) recovers the full cluster from the
    chain. Direct pair RECALL within a
    mega-bucket is intentionally partial — the pairs contract is
    preserved exactly for every bucket under the cap.
    """
    if isinstance(signature_screen, str):
        if signature_screen != "auto":
            raise ValueError(
                f"signature_screen must be 'auto', None, or a float: "
                f"{signature_screen!r}"
            )
        # One cheap count-only job — no text materialization, and at
        # corpus scale its cost is noise next to the n² candidate
        # flood it prevents. The probe re-runs the upstream lineage;
        # persist upstream when ``df`` is an expensive derived
        # relation.
        n_docs = df.count()
        if n_docs >= auto_min_docs:
            signature_screen = max(0.0, threshold - 0.25)
            _LOG.info(
                "minhash_lsh_pairs: auto routed %d docs to the "
                "screened candidate path (screen=%.2f; ~0.3%% "
                "false-negative screen on near-threshold+0.3 pairs "
                "at 16 hashes). Pass signature_screen=None to pin "
                "exact candidate semantics.",
                n_docs,
                signature_screen,
            )
        else:
            signature_screen = None
    # Spread rows first: shingling + hashing are CPU-bound and must
    # not inherit a small scan's partitioning (io.spread docstring).
    # lower(text) materialized next: char_shingles_sql references it
    # per position and an inline lower() would be recomputed O(len)
    # times. String-expression build from here down (guide §7.3): the
    # Column construction of this operator cost ~1,430 py4j
    # round-trips per q32 build (tests/test_text_sql.py pins the
    # builders to the DuckDB oracle expressions).
    low = spread(df).selectExpr(
        f"`{id_col}` AS id", f"lower(`{text_col}`) AS lc"
    )
    # Documents are represented as 64-bit shingle-hash sets from here
    # on: one md5 pass per shingle, then both the signature and the
    # exact-Jaccard verify work on 8-byte ints. Shipping hash sets
    # instead of shingle strings cuts the verify join's shuffle ~10x
    # (hash collisions are shared by any engine using the same
    # md5-derived hash, so intersection counts agree).
    sh = low.selectExpr(
        "id",
        f"{hash_array_sql(char_shingles_sql('lc', shingle_k), fast=fast_hash)}"
        f" AS hs",
    )
    # The hash-set table feeds three DAG branches (signature + both
    # sides of the verify join); Spark has no cross-branch CSE, so
    # without a persist the shingle+md5 pass runs 3x.
    # MEMORY_AND_DISK: ~8 bytes/shingle, spills cleanly at scale.
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    # The 16 seed-minima fold in one pass over the hash array.
    sig = sh.selectExpr(
        "id", f"{minhash_signature_sql('hs', num_hashes)} AS sig"
    )
    cand = _band_candidates(
        sig, num_hashes, bands, max_bucket_size, screen=signature_screen
    )
    # Fetch shingle-hash sets back only for surviving candidate pairs.
    sh_a = sh.toDF("id_a", "sh_a")
    sh_b = sh.toDF("id_b", "sh_b")
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .selectExpr(
            "id_a", "id_b", f"{jaccard_sql('sh_a', 'sh_b')} AS jaccard_sim"
        )
        .where(f"jaccard_sim >= CAST({threshold!r} AS DOUBLE)")
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, fast_hash: bool = False
) -> DataFrame:
    """Per-document 60-bit SimHash over whitespace tokens.

    Two projections: tokens are hashed once (md5, or xxhash64 with
    ``fast_hash=True`` — see minhash_lsh_pairs), then the 60 bit
    votes are pure shift/mask arithmetic over the integer array.
    (Separate select so Catalyst doesn't inline the md5 pass 60x.)
    """
    hashed = spread(df).selectExpr(
        f"`{id_col}`",
        f"{hash_array_sql(tokens_sql(f'`{text_col}`'), fast=fast_hash)}"
        f" AS hashes",
    )
    return hashed.select(
        F.col(id_col), simhash60_from_hashes("hashes").alias("simhash")
    )


def _ngram_index(
    df: DataFrame, id_col: str, text_col: str, n: int, fast_hash: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The inverted index both n-gram generators start from: per-doc
    distinct hashed word n-grams ``grams`` (id, grams), their count
    ``sizes`` (id, n_grams) and the postings (id, gram)."""
    # Postings carry h60(gram), not the gram string: 8-byte shuffle
    # keys for the inverted-index join (hash collisions are shared by
    # any engine using the same md5-derived hash, so counts agree).
    # Tokens materialized first — see char_shingles_sql inlining caveat.
    toksed = spread(df).selectExpr(
        f"`{id_col}` AS id", f"{tokens_sql(f'`{text_col}`')} AS toks"
    )
    grams = toksed.selectExpr(
        "id",
        f"array_distinct("
        f"{hash_array_sql(word_ngrams_sql('toks', n), fast=fast_hash)})"
        f" AS grams",
    )
    # grams feeds posting + sizes (and the LSH signature in the
    # containment lsh modes) — persisted for the same reason as the
    # shingle-hash set in minhash_lsh_pairs: the tokenize+ngram+hash
    # pass (the dominant linear cost) would otherwise run per branch.
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = grams.selectExpr("id", "size(grams) AS n_grams")
    posting = grams.selectExpr("id", "explode(grams) AS gram")
    return grams, sizes, posting


def _rare_first_docs(
    posting: DataFrame, sizes: DataFrame, max_doc_freq: int
) -> DataFrame:
    """Per doc: its pair-eligible grams in global rare-first (df, gram)
    order (``eg``) plus its TOTAL distinct-gram count (``n_grams`` —
    the Jaccard and containment denominators include stop/unique
    grams). Lazily checkpointed: it feeds the prefix postings and
    both verify sides."""
    # document frequency via ONE shuffle on the gram hash; keep only
    # pair-eligible grams (df=1 can never be shared, df>max_doc_freq
    # is the stop-gram cutoff)
    wg = Window.partitionBy("gram")
    elig = posting.withColumn("df", F.count(F.lit(1)).over(wg)).where(
        f"df >= 2 AND df <= {int(max_doc_freq)}"
    )
    edoc = (
        elig.groupBy("id")
        .agg(F.expr("sort_array(collect_list(struct(df, gram))) AS eg"))
        .join(sizes, "id")
        .selectExpr("id", "transform(eg, s -> s.gram) AS eg", "n_grams")
    )
    return edoc.localCheckpoint(eager=False)


def _required_overlap_sql(threshold: float) -> str:
    """The overlap a doc of ``n_grams`` grams needs: the smallest
    integer >= t*n. floor(t*n - eps)+1 instead of ceil(t*n): when t*n
    floats just ABOVE an exact integer (0.6*35 = 21.000000000000004),
    ceil would demand one extra shared gram and shorten the prefix
    below the lemma's bound — a missed-pair correctness bug, not a
    perf detail."""
    return (
        f"CAST(FLOOR(CAST({float(threshold)!r} AS DOUBLE) * "
        f"CAST(n_grams AS DOUBLE) - CAST(1e-09 AS DOUBLE)) AS INT) + 1"
    )


def _verify_join(cand: DataFrame, edoc: DataFrame) -> DataFrame:
    """Candidate pairs (id_a, id_b) joined to both docs' eligible gram
    arrays and total counts (g_a, n_a, g_b, n_b) for exact scoring."""
    ga, gb = (
        edoc.selectExpr(f"id AS id_{s}", f"eg AS g_{s}", f"n_grams AS n_{s}")
        for s in "ab"
    )
    # spread the pair stream before the verify joins: its shuffle
    # output is small in BYTES (two ids/row) so AQE coalesces it to a
    # few partitions, and the per-pair array_intersect work downstream
    # would run on those few cores (the q494 pathology, measured 6x
    # there) — one skinny re-shuffle buys full-width verify. Regime
    # note: this guard targets the BROADCAST regime (gram sides small
    # enough for AQE to convert — where the pair stream's partitioning
    # IS the verify stage's). When both joins stay sort-merge, the
    # join's own hashpartitioning(id_a) exchange supersedes the
    # RoundRobin one (the spread is then a redundant-but-cheap skinny
    # shuffle) and AQE sizes the verify stage from the FAT gram-side
    # shuffle bytes, which keeps it wide without our help — so both
    # regimes end up parallel; the spread exists for the one AQE
    # would otherwise collapse.
    return spread(cand).join(ga, "id_a").join(gb, "id_b")


def _bound_common_sql(score: str) -> str:
    """A verified pair's ``score`` over its shared-gram count ``i``.
    n_common = size(array_intersect(g_a, g_b)) is bound ONCE as an
    aggregate input: a plain projection over it carries one
    array_intersect subtree per use, and the threshold filter's
    pushdown copies them into the join condition (see
    functions.text.jaccard_sql — measured 6 intersect evals/pair)."""
    return (
        "aggregate(array(size(array_intersect(g_a, g_b))), "
        f"CAST(0.0 AS DOUBLE), (acc, i) -> {score})"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
    max_doc_freq: int = 1000,
    fast_hash: bool = False,
    candidates: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted index, with a
    threshold-adaptive candidate generator. Both generators produce
    the IDENTICAL result set (brute-force parity tested); they differ
    only in which volumes they shuffle:

    - ``"bucket"``: group ids per gram, expand C(d,2) pairs per
      bucket (df-cutoff guarded), count co-occurrences in one
      groupBy. Lowest constant factor; volume is Σ_g C(df_g, 2),
      which grows QUADRATICALLY in a corpus whose gram space
      saturates (measured exponent 1.97 at the s10→s30 stress point).
    - ``"prefix"``: the symmetric PPJoin prefix filter (Xiao et al.
      WWW'08) adapted to the cutoff semantics. A qualifying pair
      (J >= t) needs overlap c >= ceil(t*n_x) w.r.t. EACH doc's
      total count, and the MINIMAL shared gram in global rare-first
      (df, gram) order provably lies in BOTH docs' prefixes of
      length |E_x| - ceil(t*n_x) + 1 — the join touches prefix
      postings on both sides (hot grams sort last and rarely enter
      any prefix), with size-compatibility (t·n_a <= n_b and vice
      versa, since J <= min/max) and positional suffix bounds pruned
      inside the join. Exact array_intersect verify. Measured
      s10→s30 stress exponent 0.88 (vs 1.97), 100.8s → 14.7s at
      150k docs.
    - ``"auto"`` (default): prefix iff ``threshold >= 0.5``. Prefix
      pruning power is (1-t) per side, so below t=0.5 the candidate
      join exceeds a quarter of the naive volume while paying the
      extra machinery (rare-first ordering, both-side posexplode,
      verify joins) — measured 2.2x SLOWER than bucket at t=0.3 on
      the sf0.1 documents corpus, and 7x FASTER at t=0.8 on the
      150k-doc stress corpus. High-threshold near-dup mining (the
      100 TB dedup use-case) gets the scale path; low-threshold
      similarity sweeps keep the low-constant plan whose df cutoff
      is the documented skew guard.

    Shared grams are counted only on grams with document frequency
    in [2, ``max_doc_freq``] (the stop-gram cutoff); Jaccard uses
    the TOTAL per-doc distinct-gram counts.
    """
    if candidates == "auto":
        candidates = "prefix" if threshold >= 0.5 else "bucket"
    if candidates not in ("bucket", "prefix"):
        raise ValueError(f"candidates must be bucket|prefix|auto: {candidates}")
    grams, sizes, posting = _ngram_index(df, id_col, text_col, n, fast_hash)
    if candidates == "bucket":
        # One shuffle: group ids per gram (the inverted index). The
        # document-frequency cutoff drops stop-grams before any pair
        # is generated (a gram shared by d docs yields d² pairs).
        buckets = (
            posting.groupBy("gram")
            .agg(F.expr("array_sort(collect_list(id)) AS ids"))
            .where(f"size(ids) > 1 AND size(ids) <= {int(max_doc_freq)}")
        )
        common = (
            # explode_outer and the spread: as in the band stage
            # (_band_candidates)
            spread(buckets)
            .selectExpr(f"explode_outer({_pairs_within_sql('ids')}) AS pr")
            .groupBy(
                F.col("pr.id_a").alias("id_a"), F.col("pr.id_b").alias("id_b")
            )
            .agg(F.expr("count(1) AS n_common"))
        )
        sa = sizes.toDF("id_a", "n_a")
        sb = sizes.toDF("id_b", "n_b")
        return (
            common.join(sa, "id_a")
            .join(sb, "id_b")
            .selectExpr(
                "id_a",
                "id_b",
                "CAST(n_common AS DOUBLE) / "
                "CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard_sim",
            )
            .where(f"jaccard_sim >= CAST({threshold!r} AS DOUBLE)")
        )
    edoc = _rare_first_docs(posting, sizes, max_doc_freq)
    req = F.expr(_required_overlap_sql(threshold))
    pre_len = F.size("eg") - req + 1
    pre = edoc.select(
        F.col("id").alias("id_x"),
        F.col("n_grams").alias("n_x"),
        req.alias("req_x"),
        F.size("eg").alias("e_x"),
        F.posexplode(
            F.slice(F.col("eg"), 1, F.greatest(pre_len, F.lit(0)))
        ).alias("i_x", "gram"),
    )
    a = pre.select(
        F.col("id_x").alias("id_a"), F.col("n_x").alias("n_a_"),
        F.col("req_x").alias("req_a"), F.col("e_x").alias("e_a"),
        F.col("i_x").alias("i_a"), "gram",
    )
    b = pre.select(
        F.col("id_x").alias("id_b"), F.col("n_x").alias("n_b_"),
        F.col("req_x").alias("req_b"), F.col("e_x").alias("e_b"),
        F.col("i_x").alias("i_b"), "gram",
    )
    cand = (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size compatibility: J <= min/max, so t*n_a <= n_b and
            # t*n_b <= n_a for any qualifying pair
            & (F.col("n_b_") >= F.col("req_a"))
            & (F.col("n_a_") >= F.col("req_b"))
            # positional: at the minimal-shared-gram event every
            # shared gram sits at position >= i on each side, and the
            # pair needs >= max(req_a, req_b) shared grams
            & (F.col("e_a") - F.col("i_a") >= F.col("req_b"))
            & (F.col("e_b") - F.col("i_b") >= F.col("req_a"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = _bound_common_sql("CAST(i AS DOUBLE) / CAST(n_a + n_b - i AS DOUBLE)")
    return (
        _verify_join(cand, edoc)
        .selectExpr("id_a", "id_b", f"{jac} AS jaccard_sim")
        .where(f"jaccard_sim >= CAST({threshold!r} AS DOUBLE)")
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_rows: int | None = 10_000,
    on_overflow: str = "error",
    planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Brute force is O(n²) pairs — an exact-correctness baseline, and a
    foot-gun if called on an unbounded corpus. The guard: when the
    input exceeds ``max_rows`` (one scalar count; pass ``None`` to
    opt out for inputs bounded by construction), either raise
    (``on_overflow='error'``, default) or route to the hyperplane-LSH
    bucketed pair generation (``on_overflow='lsh'``): both copies
    bucket on ``planes`` random hyperplanes and only same-bucket pairs
    are scored — a bucket equi-join shuffle instead of a cross join,
    with recall < 1 by construction (near-identical vectors land in
    the same bucket with prob ~ (1 - theta/pi)^planes).

    The exact path is a broadcast block matmul: the bounded side is
    normalized once, broadcast as a dense matrix, and every Arrow batch
    of the distributed side scores against it with one numpy GEMM
    inside ``mapInPandas`` — a broadcast-probe distribution with the
    64x-per-pair inner loop in BLAS, ~10x faster wall-clock than a
    Catalyst fold per pair.
    """
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            if on_overflow == "lsh":
                return _lsh_dup_pairs(df, id_col, vec_col, threshold, planes)
            raise ValueError(
                f"embedding_dup_pairs is O(n^2): input has {n} rows > "
                f"max_rows={max_rows}. Pass on_overflow='lsh' to route to "
                "the bucketed LSH pair generation, raise max_rows for a "
                "deliberately bounded exact run, or use "
                "operators.knn.ann_lsh_join / ivf_knn_join for top-k."
            )

    return _blocked_exact_pairs(df, id_col, vec_col, threshold)


def _blocked_exact_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exact cosine pair scoring as a broadcast block matmul.

    One side (bounded by the caller's ``max_rows`` guard) is collected,
    L2-normalized, and broadcast as a dense float64 matrix; the other
    side stays distributed and each Arrow batch computes a single
    ``batch @ B.T`` GEMM, emitting only (id_a < id_b, sim >= threshold)
    survivors. Zero-norm vectors score NaN and never pass the
    threshold — same outcome as a cosine fold's 0/0. At corpus
    scale (broadcast side too big) use ``on_overflow='lsh'`` or
    operators.knn.ivf_knn_join instead; this is the exact-baseline
    shape, like knn.cosine_topk's broadcast probe.
    """
    import numpy as np
    import pandas as pd

    id_t = dict(df.dtypes)[id_col]
    schema = f"id_a {id_t}, id_b {id_t}, cosine_sim double"
    side = df.select(id_col, vec_col).collect()
    if not side:
        # np.array([]) is 1-D: the row norms below need a 2-D matrix
        return df.sparkSession.createDataFrame([], schema)
    ids_b = np.array([r[id_col] for r in side])
    mat = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in side])
    with np.errstate(invalid="ignore", divide="ignore"):
        bn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((ids_b, bn))

    def score(it):
        b_ids, b_mat = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            a_ids = pdf[id_col].to_numpy()
            with np.errstate(invalid="ignore", divide="ignore"):
                an = a / np.linalg.norm(a, axis=1, keepdims=True)
                sims = an @ b_mat.T
                keep = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ia, ib = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ia],
                    "id_b": b_ids[ib],
                    "cosine_sim": sims[ia, ib],
                }
            )

    return spread(df).select(id_col, vec_col).mapInPandas(score, schema)


def _lsh_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, planes: int
) -> DataFrame:
    """Bucketed near-dup pair generation: hyperplane-LSH bucket
    self-join (the scale path embedding_dup_pairs routes to)."""
    from model_presto_spark.functions.vectors import cosine_similarity_sql
    from model_presto_spark.operators.knn import _hyperplane_bucket_sql

    dim = len(df.select(vec_col).first()[0])
    bucketed = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.expr(_hyperplane_bucket_sql(vec_col, dim, planes)).alias("__bucket"),
    ).persist()
    a = bucketed.select(
        F.col("__id").alias("id_a"), F.col("__vec").alias("va"), "__bucket"
    )
    b = bucketed.select(
        F.col("__id").alias("id_b"), F.col("__vec").alias("vb"), "__bucket"
    )
    return (
        a.join(b, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(cosine_similarity_sql("va", "vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop every doc that appears as the larger id of a dup pair.

    Single-link 'min-id wins within a pair' policy: cheap, one
    anti-join, and deterministic. (Full transitive clustering would
    need iterative connected components — see operators/graph.py.)
    """
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "minhash",
    threshold: float = 0.8,
    fast_hash: bool = True,
    **kwargs,
) -> DataFrame:
    """One-call end-to-end near-dedup: candidate pairs (``method`` in
    'minhash' | 'ngram') -> transitive clusters (connected components)
    -> keep the min-id representative of every cluster. Exact dedup is
    ``exact_dedup``.

    The composition a pipeline actually runs, wired from the
    individually-verified stages: pair generation is the bucketed
    scale path of the chosen method, clustering is the O(log n)
    pointer-jumping CC, and the keep is one join against the cluster
    relation. ``fast_hash`` defaults to the xxhash64 production path
    (flip off for md5 when cross-engine reproducibility of the hash
    itself matters more than speed)."""
    from model_presto_spark.operators.graph import (
        keep_cluster_representatives,
    )

    if method == "minhash":
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, threshold=threshold,
            fast_hash=fast_hash, **kwargs,
        )
    elif method == "ngram":
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, threshold=threshold,
            fast_hash=fast_hash, **kwargs,
        )
    else:
        raise ValueError(
            f"unknown method {method!r}: use 'minhash' or 'ngram' "
            "(exact dedup is exact_dedup)"
        )
    return keep_cluster_representatives(
        df, pairs.select("id_a", "id_b"), id_col
    )


# ---------------------------------------------------------------------------
# Exact-substring (span) dedup — Lee et al., "Deduplicating Training
# Data Makes Language Models Better" (public recipe: every k-token
# window that occurs more than once in the corpus marks a duplicated
# span; documents are scored by the fraction of their windows that
# are duplicated, and the spans themselves can be cut out).
#
# Scale shape: identical to the corpus posting list (operators/lm.py)
# — one explode of window *hashes* (8-byte keys, never window text),
# per-doc pre-aggregation in the same shuffle (map-side combine), a
# second much smaller aggregation over window types, and a
# whash-keyed co-located join back. No O(n^2) pair generation at any
# point; the suffix-array of the original paper is replaced by the
# equivalent fixed-k window-hash formulation, which distributes as
# plain groupBy/join.
# ---------------------------------------------------------------------------


def window_hashes(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast_hash: bool = False,
) -> DataFrame:
    """One row per k-token window position: (id, i, whash).

    ``fast_hash=True`` switches to native xxhash64 (production path);
    the md5 default replays bit-for-bit in the DuckDB oracle.
    Documents shorter than ``k`` tokens contribute a single null-hash
    row (``explode_outer`` over an empty sequence) so callers can
    left-account them; every aggregate here counts ``whash`` and so
    ignores those rows.
    """
    # spread first: the per-window md5 below (one hash per token
    # position) is the dominant CPU of every winnowing/span-dedup
    # caller and must not inherit the scan's single partition
    toksed = spread(docs).selectExpr(id_col, f"{tokens_sql(text_col)} AS toks")
    n = F.size("toks")
    idx = F.when(
        n >= k, F.sequence(F.lit(1), n - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    win = toksed.select(
        id_col, "toks", F.explode_outer(idx).alias("i")
    )
    wtext = f"array_join(slice(toks, i, {k}), ' ')"
    h = h60_fast_sql(wtext) if fast_hash else h60_sql(wtext)
    return win.selectExpr(id_col, "i", f"CASE WHEN i IS NOT NULL THEN {h} END AS whash")


def span_dup_stats(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast_hash: bool = False,
) -> DataFrame:
    """Per-document duplicated-window statistics.

    Returns (id, n_windows, dup_windows, dup_fraction): a window
    position is duplicated iff its k-token window hash occurs more
    than once in the ENTIRE corpus (other documents or a repeat
    within the same document). Every document of the input appears in
    the output; documents with fewer than ``k`` tokens have zero
    windows and fraction 0.0.
    """
    w = window_hashes(docs, k, text_col, id_col, fast_hash)
    # per-doc window-type counts: the explode's shuffle does map-side
    # partial aggregation, so window instances never cross the wire
    pc = w.where(F.col("whash").isNotNull()).groupBy(id_col, "whash").agg(
        F.count("*").alias("cnt")
    )
    # pc feeds two branches (global totals + the join back); without a
    # persist the tokenize+hash pass over the corpus runs twice
    pc = pc.persist(StorageLevel.MEMORY_AND_DISK)
    glob = pc.groupBy("whash").agg(F.sum("cnt").alias("total"))
    d = (
        pc.join(glob, "whash")  # both sides hash-partitioned on whash
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(F.when(F.col("total") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_windows"
            ),
        )
    )
    out = docs.select(id_col).join(d, id_col, "left")
    nw = F.coalesce(F.col("n_windows"), F.lit(0)).cast("bigint")
    dw = F.coalesce(F.col("dup_windows"), F.lit(0)).cast("bigint")
    return out.select(
        id_col,
        nw.alias("n_windows"),
        dw.alias("dup_windows"),
        F.when(nw > 0, dw.cast("double") / nw.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def remove_dup_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast_hash: bool = True,
) -> DataFrame:
    """Cut duplicated spans out of each document (Lee et al. removal).

    A token position is covered iff it lies inside any duplicated
    window; the cleaned text is the remaining tokens joined in their
    original order. Implemented without exploding windows to token
    positions: the duplicated window *starts* of a doc come back as
    one array per doc (bounded by document length), and the token
    mask is a JVM-side positional ``filter`` with an ``exists`` over
    that array — O(tokens x dup_windows) worst case per doc, all
    inside whole-stage codegen.

    Output: (id, text_col clean text, n_tokens_kept, n_tokens).
    """
    w = window_hashes(docs, k, text_col, id_col, fast_hash)
    pc = w.where(F.col("whash").isNotNull()).groupBy(id_col, "whash").agg(
        F.count("*").alias("cnt"), F.collect_list("i").alias("starts")
    )
    # two consumers (totals + dup-start extraction) — see span_dup_stats
    pc = pc.persist(StorageLevel.MEMORY_AND_DISK)
    glob = pc.groupBy("whash").agg(F.sum("cnt").alias("total"))
    dup_starts = (
        pc.join(glob, "whash")
        .where(F.col("total") > 1)
        .select(id_col, F.explode("starts").alias("s"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("s")).alias("dup_starts"))
    )
    base = docs.selectExpr(id_col, f"{tokens_sql(text_col)} AS toks").join(
        dup_starts, id_col, "left"
    )
    ds = F.coalesce(F.col("dup_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("toks"),
        lambda t, j: ~F.exists(
            ds, lambda s: (s <= j + 1) & (j + 1 <= s + (k - 1))
        ),
    )
    return base.select(
        id_col,
        F.array_join(kept, " ").alias(text_col),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
        F.size("toks").cast("bigint").alias("n_tokens"),
    )


def containment_auto_route(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    auto_min_docs: int = 20000,
    skew_ratio_floor: float = 0.30,
    ensemble_min_docs: int = 100_000,
) -> str:
    """Routing decision for ``ngram_containment_pairs(candidates=
    "auto")``: returns ``"index"``, ``"lsh"``, or ``"lsh_ensemble"``.

    The rule is recall-provable rather than heuristic: LSH is chosen
    ONLY when the min/max GRAM-count ratio over gram-viable docs
    (token count >= n — shorter docs have no grams and can join no
    pair) is at least ``skew_ratio_floor``. Then every possible pair
    has size ratio ρ >= floor, which keeps the banded generator
    inside its measured high-recall band (≈0.98–1.0 at ρ≥0.33). The
    probe measures ``size(tokens(text)) - n + 1`` — the same gram
    count the recall curve's ρ is defined over — NOT char length:
    char length does not bound gram count (10 ten-char tokens vs 60
    one-char tokens have char ratio ~0.92 but gram ratio ~0.14, which
    a length probe would route squarely into the collapsed-recall
    regime). Any corpus that COULD contain a ρ < floor pair —
    including one single long outlier doc, which can contain many
    short ones — routes AWAY from plain lsh:

    - skewed and under ``ensemble_min_docs``: the exact ``"index"``
      path (exact recall; its Σ df² cost is affordable there);
    - skewed and ``ensemble_min_docs`` or more: ``"lsh_ensemble"`` —
      the screened length-bucketed generator, measured (STRESS_r14)
      recall 0.98/1.0 on the planted ρ≈0.1/0.33 doc-inside-doc
      families with s10→s30 exponent 0.945 where the index path's
      adversarial-corpus exponent reads 1.6-2.0. Coverage floor ρ≈0.03
      (pairs deeper than ``max_gap`` buckets apart are missed) —
      pin ``candidates="index"`` when those must be found at any
      throughput cost.

    Conservative by design: the operator exists for doc-inside-doc
    detection, so auto errs toward recall; deployments that know
    their workload pin ``candidates=`` explicitly. Every lossy
    routing decision logs an INFO line with the measured ratio.

    Cost: one agg job (count + conditional min + max of the token
    count). The probe re-runs the upstream lineage — persist upstream
    when ``df`` is an expensive derived relation.
    """
    toks = F.expr(f"size({tokens_sql(text_col)})")
    gcnt = toks - n + 1
    probe = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(toks >= n, gcnt)).alias("lo"),
        F.max(F.when(toks >= n, gcnt)).alias("hi"),
    ).first()
    n_docs, lo, hi = probe["n"], probe["lo"], probe["hi"]
    ratio = (lo / hi) if lo and hi else 1.0
    if n_docs < auto_min_docs:
        return "index"
    if ratio < skew_ratio_floor:
        if n_docs >= ensemble_min_docs:
            _LOG.info(
                "ngram_containment_pairs: auto routed %d docs to the "
                "screened lsh_ensemble path — gram-count min/max "
                "ratio %.3f < %.2f admits doc-inside-doc (rho<<1) "
                "pairs (plain-lsh recall collapses there, 0.40-0.44 "
                "at rho~0.1) and the corpus is too large for the "
                "exact index path's Sum(df^2) cost (adversarial "
                "s10->s30 exponent ~2.0). Ensemble recall on the "
                "planted rho~0.1/0.33 families: 0.98/1.0 (STRESS_r14, "
                "s10->s30 exponent 0.945); "
                "coverage floor rho~0.03. Pin candidates='index' for "
                "exact recall regardless of cost.",
                n_docs,
                ratio,
                skew_ratio_floor,
            )
            return "lsh_ensemble"
        _LOG.info(
            "ngram_containment_pairs: auto kept %d docs on the exact "
            "index path — gram-count min/max ratio %.3f < %.2f "
            "admits doc-inside-doc (rho<<1) pairs, where the LSH "
            "generator's measured recall collapses (0.40-0.44 at "
            "rho~0.1). For a sublinear skewed-corpus path at "
            "measured 0.98/1.0 planted-family recall, pin "
            "candidates='lsh_ensemble'.",
            n_docs,
            ratio,
            skew_ratio_floor,
        )
        return "index"
    _LOG.info(
        "ngram_containment_pairs: auto routed %d docs to the LSH "
        "candidate path — gram-count min/max ratio %.3f >= %.2f "
        "bounds every pair's size ratio inside the measured "
        "high-recall band (~0.98-1.0 at rho>=0.33).",
        n_docs,
        ratio,
    )
    return "lsh"


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
    fast_hash: bool = False,
    candidates: str = "auto",
    num_hashes: int = 128,
    bands: int = 64,
    max_bucket_size: int = 2000,
    auto_min_docs: int = 20000,
    skew_ratio_floor: float = 0.30,
    max_gap: int = 4,
    ensemble_min_docs: int = 100_000,
    ensemble_screen: float | None | str = "auto",
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs (Broder's second measure).

    Jaccard resemblance misses the doc-inside-doc case: if A's
    shingles are a strict subset of a much larger B, J(A,B) =
    |A|/|B| is small even though A is wholly contained. Containment
    C = |A∩B| / min(|A|,|B|) is 1.0 exactly then. This is the
    quote/wrapper/expansion detector that complements
    ``ngram_jaccard_pairs`` (resemblance) and ``minhash_lsh_pairs``
    (approximate resemblance) — same corpus, different failure mode.

    Shared grams are counted only on grams with document frequency
    in [2, ``max_doc_freq``] (the stop-gram cutoff); verification is
    always exact (array_intersect over the per-doc eligible gram
    arrays), so PRECISION is exact in both modes. ``candidates``
    picks the generator; the DEFAULT ``"auto"`` routes by corpus
    size AND length skew via ``containment_auto_route`` (ONE probe
    job):

    - under ``auto_min_docs`` docs → ``"index"`` (exact recall is
      free at that size);
    - ``"lsh"`` only when the gram-viable min/max GRAM-COUNT ratio
      is at least ``skew_ratio_floor`` (default 0.30) — then NO pair
      in the corpus can have size ratio ρ below the floor, so the
      LSH path operates strictly inside its measured high-recall
      band (≈0.98–1.0 at ρ≥0.33, STRESS_r12);
    - a skewed corpus (gram counts span more than
      1/``skew_ratio_floor``) under ``ensemble_min_docs`` →
      ``"index"``: a doc-inside-doc (ρ≪1) pair is POSSIBLE there,
      and the LSH path's measured recall collapses on exactly those
      pairs (0.40–0.44 at ρ≈0.1) — auto must not hand the
      operator's flagship use case to the lossy generator. Scale
      note: the ``max_doc_freq`` stop-gram cutoff bounds the index
      path's Σ_g df_g² ≤ max_doc_freq · Σ_g df_g, but below the cap
      a saturating gram space still measures ~quadratic
      (adversarial s10→s30 exponent ~2.0, STRESS_r13 — every df
      grows with n until it crosses the cap), which is why size
      matters in this branch;
    - a skewed corpus of ``ensemble_min_docs`` or more →
      ``"lsh_ensemble"`` (screened): the sublinear skewed-corpus
      generator, measured recall 0.98/1.0 on the planted ρ≈0.1/0.33
      doc-inside-doc families at s10→s30 exponent 0.945
      (STRESS_r14) with a documented coverage floor at ρ≈0.03.

    Both outcomes log an INFO line (with the measured ratio) so the
    routing decision is never silent. Pin ``candidates="index"``
    where exact candidate semantics are contractual (the q104
    oracle); pin ``candidates="lsh"`` when throughput matters more
    than extreme-containment recall on a skewed corpus.

    - ``"index"`` (exact recall): prefix-filtered inverted
      index — the asymmetric variant of the PPJoin lemma used by
      ``ppjoin_pairs``. For C >= t the SMALLER doc (n = total
      distinct grams) must share c = ceil(t*n) of its eligible
      grams, so if it misses all of the first |E| - c + 1 in GLOBAL
      rare-first (df, gram) order the pair is impossible; a
      positional filter additionally drops join events whose
      remaining suffix on either side cannot reach c. The result
      set is IDENTICAL to the naive O(d²)-per-bucket plan
      (which STRESS_r9 measured at exponent 1.131 — up to
      C(max_doc_freq, 2) ≈ 500k materialized pairs per hot gram),
      but exact candidate generation over a gram inverted index is
      inherently Ω(Σ_g df_g²)-shaped: in a corpus whose gram space
      saturates (every df grows ∝ corpus size), NO gram-keyed exact
      method scales subquadratically. That is what the next mode is
      for.
    - ``"lsh"`` (scale path, documented recall): MinHash-banded
      candidates over the gram sets (``num_hashes``/``bands``, 2
      rows per band by default). Band-bucket collision probability
      depends on pair SIMILARITY, not corpus density, so candidate
      volume stays ~linear where the inverted index saturates.
      Recall is governed by the Jaccard a containment pair implies:
      J = t·ρ/(1 + ρ - t·ρ) for size ratio ρ = n_min/n_max — at
      t=0.6 a same-size pair (J≈0.43) collides with P≈1.0, a 3x
      size-skewed pair (J≈0.18) with P≈0.87 at 64x2 bands, and
      extreme doc-inside-doc (ρ→0) degrades further; pairs found
      are scored exactly. MEASURED curve (STRESS_r12, planted
      doc-inside-doc families): recall ≈ 0.98–1.0 at ρ≈0.33,
      ≈ 0.40–0.44 at ρ≈0.1 — the lsh mode trades away exactly the
      extreme containment case, so pin ``candidates="index"`` when
      hunting deep doc-inside-doc pairs regardless of corpus size.
      ``max_bucket_size`` caps bucket MEMBERS as in
      ``minhash_lsh_pairs``: a bucket of d > max_bucket_size docs
      emits its d-1 consecutive-chain pairs instead of C(d,2).
      tools/stress_bench.py measures the lsh-vs-index recall on its
      planted corpus alongside the scaling exponent, so the trade is
      recorded per round, not asserted.
    - ``"lsh_ensemble"`` (skewed-corpus scale path): length-bucketed
      asymmetric banding (LSH Ensemble — Zhu, Nargesian, Miller,
      VLDB 2016) — docs land in log2-size buckets and each bucket
      GAP gets a banding tuned to the worst-case Jaccard a
      containment-t pair can have across that gap
      (``_ensemble_band_plan``), so a ρ≈0.1 doc-inside-doc pair
      collides with ≥ ~0.9 probability where single-banding lsh
      measured 0.40. The wide-gap bandings bottom out at r=1, whose
      random collisions flood ~n² on a saturating corpus (measured
      unscreened s10→s30 exponent 1.35, STRESS_r13), so
      ``ensemble_screen`` (default ``"auto"`` = threshold − 0.25)
      estimates each potential pair's containment from the MinHash
      signatures + exact gram counts INSIDE the pair expansion and
      drops the flood before it materializes — the same structural
      guard as ``minhash_lsh_pairs(signature_screen=...)``; per-gap
      recall + the screened exponent are re-measured per round in
      STRESS. Pass ``ensemble_screen=None`` for the unscreened
      (exact-candidate) semantics. Pairs with ρ below
      ~2^-(``max_gap``+1) (~0.03 at the default) are out of coverage
      — that regime stays the index path's. ``auto`` routes here
      when the corpus is BOTH skewed (could hold a ρ<floor pair)
      and at least ``ensemble_min_docs`` — too large for the index
      path's Σ df² floor. In this mode ``max_bucket_size`` caps a
      bucket's POTENTIAL PAIRS: it falls back to its consecutive
      chain when C(d,2) > max_bucket_size (the 'lsh' mode caps d).

    Output: (id_a, id_b, n_common, containment), id_a < id_b.
    """
    if candidates == "auto":
        candidates = containment_auto_route(
            df,
            text_col,
            n=n,
            auto_min_docs=auto_min_docs,
            skew_ratio_floor=skew_ratio_floor,
            ensemble_min_docs=ensemble_min_docs,
        )
    if candidates not in ("index", "lsh", "lsh_ensemble"):
        raise ValueError(
            f"candidates must be 'index', 'lsh', 'lsh_ensemble', or "
            f"'auto': {candidates}"
        )
    grams, sizes, posting = _ngram_index(df, id_col, text_col, n, fast_hash)
    edoc = _rare_first_docs(posting, sizes, max_doc_freq)
    if candidates == "lsh":
        sig = grams.selectExpr(
            "id", f"{minhash_signature_sql('grams', num_hashes)} AS sig"
        )
        cand = _band_candidates(sig, num_hashes, bands, max_bucket_size)
        return _containment_verify(cand, edoc, threshold)
    if candidates == "lsh_ensemble":
        if isinstance(ensemble_screen, str):
            if ensemble_screen != "auto":
                raise ValueError(
                    f"ensemble_screen must be 'auto', None, or a "
                    f"float: {ensemble_screen!r}"
                )
            ensemble_screen = max(0.0, threshold - 0.25)
        cand = _containment_ensemble_candidates(
            grams,
            num_hashes,
            max_bucket_size,
            threshold,
            max_gap,
            screen=ensemble_screen,
        )
        return _containment_verify(cand, edoc, threshold)
    req = F.expr(_required_overlap_sql(threshold))
    pre_len = F.size("eg") - req + 1
    # Candidate generation with positional filtering (PPJoin's second
    # filter, adapted to containment): every qualifying pair has a
    # generation event at its FIRST shared gram in global order, and
    # at that event all c shared grams sit at positions >= i in the
    # smaller doc's list and >= j in the other's — so events where
    # either remaining-suffix is shorter than c can be dropped
    # per-row INSIDE the join, before anything shuffles. This is the
    # lever that matters in a dense/uniform-df corpus where prefix
    # filtering alone barely discriminates: the joined row count is
    # unchanged but the dedup shuffle downstream shrinks ~an order
    # of magnitude. The smaller-side orientation (n_a <= n_b) is
    # likewise safe: the lemma is applied with the smaller doc as
    # the prefix side, and size ties survive in both orientations.
    pref = edoc.select(
        F.col("id").alias("id_p"),
        F.col("n_grams").alias("n_p"),
        req.alias("req_p"),
        F.size("eg").alias("e_p"),
        F.posexplode(
            F.slice(F.col("eg"), 1, F.greatest(pre_len, F.lit(0)))
        ).alias("i", "gram"),
    )
    full = edoc.select(
        F.col("id").alias("id_f"),
        F.col("n_grams").alias("n_f"),
        F.size("eg").alias("e_f"),
        F.posexplode("eg").alias("j", "gram"),
    )
    cand = (
        pref.join(full, "gram")
        .filter(
            (F.col("id_p") != F.col("id_f"))
            & (F.col("n_p") <= F.col("n_f"))
            & (F.col("e_f") - F.col("j") >= F.col("req_p"))
        )
        .select(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _containment_verify(cand, edoc, threshold)


def _ensemble_band_plan(
    threshold: float,
    num_hashes: int,
    max_gap: int,
    target_recall: float = 0.9,
) -> list[tuple[int, int, int]]:
    """Per-size-gap banding table for the LSH-Ensemble-style
    containment generator: ``[(gap, bands, rows_per_band), ...]``.

    For docs in log2-size buckets i and j = i+gap, the worst-case
    Jaccard a containment-t pair can have is
    ``J_min = t / (1 + 2^(gap+1) - t)`` (smallest doc at the bucket-i
    floor, largest at the bucket-j ceiling). Pick the LARGEST rows r
    (most selective against random collisions) whose banding of the
    num_hashes signature still collides a J_min pair with probability
    >= target_recall; fall back to (num_hashes, 1) — the loosest
    banding possible — when even r=1 cannot reach the target.
    """
    plan = []
    for g in range(max_gap + 1):
        j_min = threshold / (1.0 + 2.0 ** (g + 1) - threshold)
        bands, rows = num_hashes, 1
        for r in range(8, 0, -1):
            b = num_hashes // r
            if b < 1:
                continue
            p = 1.0 - (1.0 - j_min**r) ** b
            if p >= target_recall:
                bands, rows = b, r
                break
        plan.append((g, bands, rows))
    return plan


def _containment_ensemble_candidates(
    grams: DataFrame,
    num_hashes: int,
    max_bucket_size: int,
    threshold: float,
    max_gap: int = 4,
    screen: float | None = None,
) -> DataFrame:
    """Length-bucketed asymmetric-banded candidate pairs for
    containment over SIZE-SKEWED corpora — the LSH Ensemble idea
    (Zhu, Nargesian, Miller, VLDB 2016: partition sets by size, tune
    the MinHash banding per partition to the Jaccard the containment
    threshold implies there), recast as one all-pairs DataFrame plan:

    - docs land in log2(|grams|) size buckets (bkt);
    - every bucket gap g <= max_gap gets a banding (b_g, r_g) from
      ``_ensemble_band_plan`` — wide gaps (small implied J) get
      looser banding, so a rho~0.1 doc-inside-doc pair still
      collides with >= ~0.9 probability where the single-banding
      'lsh' mode measured 0.40;
    - gaps sharing a banding share ONE posting family (at the
      defaults every gap >= 1 bottoms out at r=1, i.e. all wide
      gaps band identically): each doc emits b keys per family —
      (band, bucket-hash, id, bkt, n_grams), never a signature or
      gram body — and pairs form inside a bucket between members
      whose bkt difference is one of the family's gaps. This is
      candidate-set-identical to the round-7 per-(gap, side) key
      emission (same banding ⇒ same collisions) at ~5.7x fewer
      posting rows, and it is what makes the screen below free:
      FOR r=1 BANDINGS A BAND COLLISION *IS* A SIGNATURE-POSITION
      MATCH, so counting the bands a pair collides in recovers the
      pair's exact MinHash match count m out of num_hashes — the
      same statistic ``minhash_lsh_pairs``'s signature screen
      computes via zip_with, with ZERO signature payload shipped.
    - pair volume per bucket is capped by ``max_bucket_size`` with
      the consecutive-chain fallback (same cluster-recovery
      semantics as every other generator). Here the cap bounds
      POTENTIAL PAIRS, not members: a bucket falls back to the chain
      when C(d,2) > max_bucket_size, where minhash and the 'lsh'
      mode fall back when d > max_bucket_size. The potential-pair
      count is computed in long — 32-bit products wrap negative on
      ~46k-member buckets and would bypass the cap.

    ``screen`` (the round-8 scale guard): the round-7 unscreened
    generator measured s10→s30 exponent 1.35 / 205 s at 150k docs —
    wide-gap r=1 bands collide random pairs at the background-
    Jaccard rate, so the candidate-PAIR stream (not the postings)
    floods ~n² on a saturating corpus, and every flood pair paid the
    dropDuplicates shuffle plus two gram-array verify joins. Now the
    exploded pair stream (ids + gram counts only, ~24 B/row) is
    aggregated per pair — m = count of colliding bands — and pairs
    from r=1 families are kept only when the estimated containment
    Ĉ = Ĵ·(n_a+n_b) / ((1+Ĵ)·min(n_a,n_b))  with  Ĵ = m/num_hashes
    (from |A∩B| = J·(|A|+|B|)/(1+J)) clears ``screen``; division-
    free form m·(n_a+n_b) >= screen·(num_hashes+m)·min. Only
    survivors reach the gram-array verify. r>1 families (gap 0 at
    the defaults) are self-screening — background pairs need J^r
    per band to collide at all — and chain pairs bypass the screen
    (cluster recovery). The trade is recall at the margin (a true
    pair at C≈t can estimate low; at 128 observed positions the
    planted ρ≈0.1 C=1.0 family needs only m ≥ 4 of E[m]≈12, a
    ~0.2% tail); precision is unaffected — survivors are exactly
    verified downstream. Coverage floor: pairs with size ratio
    below ~2^-(``max_gap``+1) (rho ~0.03 at the default) never
    share a gap and are missed — that regime is the index path's.
    """
    plan = _ensemble_band_plan(threshold, num_hashes, max_gap)
    families: dict[tuple[int, int], list[int]] = {}
    for g, b, r in plan:
        families.setdefault((b, r), []).append(g)
    sig = grams.where("size(grams) > 0").selectExpr(
        "id",
        "CAST(FLOOR(log2(CAST(size(grams) AS DOUBLE)) + CAST(1e-12 AS DOUBLE)) "
        "AS INT) AS bkt",
        "size(grams) AS ng",
        f"{minhash_signature_sql('grams', num_hashes)} AS sig",
    # the num_hashes-minima fold feeds one key branch per family —
    # cut the lineage so it computes once, not per branch
    ).localCheckpoint(eager=True)
    # potential-pair upper bound C(d,2) in LONG (overflow guard)
    d = "CAST(size(ms) AS BIGINT)"
    parts = []
    for fam_i, ((b, r), gaps) in enumerate(sorted(families.items())):
        posting = sig.selectExpr(
            f"{fam_i} AS fam",
            "id",
            "bkt",
            "ng",
            f"explode_outer({lsh_band_keys_sql('sig', b, r)}) AS bk",
        ).selectExpr(
            "fam",
            "bk.band AS band",
            "bk.bucket AS bucket",
            # id leads so array_sort yields id order (ids unique)
            "struct(id, bkt, ng) AS m",
        )
        groups = (
            posting.groupBy("fam", "band", "bucket")
            .agg(F.expr("array_sort(collect_list(m)) AS ms"))
            .where("size(ms) > 1")
        )
        # screenable: r=1 observes every signature position, so the
        # per-pair band-collision count IS the match count m
        scr = "true" if r == 1 else "false"
        fields = ("{a}.ng AS ng_a", "{b}.ng AS ng_b")
        viable = (
            f"array_contains(array({', '.join(map(str, gaps))}), "
            "abs({a}.bkt - {b}.bkt))"
        )
        pairs = _pairs_within_sql(
            "ms", ".id", (*fields, "false AS chain", f"{scr} AS scr"), viable
        )
        chain = _chain_pairs_sql(
            "ms", ".id", (*fields, "true AS chain", f"{scr} AS scr")
        )
        # oversized buckets emit the d-1 consecutive-chain pairs —
        # O(d) rows, cluster recovered by CC downstream
        pair_arr = (
            f"CASE WHEN {d} * ({d} - 1) / 2 > {int(max_bucket_size)} "
            f"THEN {chain} ELSE {pairs} END"
        )
        parts.append(
            # the generator-side spread of the band stage: the gap
            # scan and pair expansion must not run on the AQE-coalesced
            # read of the posting shuffle
            spread(groups)
            .selectExpr(f"explode_outer({pair_arr}) AS pr")
            # a bucket whose members all sit at non-covered gaps
            # (e.g. equal bkt inside an r=1 family) yields an EMPTY
            # pair array and explode_outer emits one null row for it
            .where("pr IS NOT NULL")
            .selectExpr("pr.*")
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    # one row per candidate pair; m = number of colliding bands.
    # A pair belongs to exactly ONE family (its bkt gap picks it),
    # and within a family a pair collides at most once per band —
    # so count(*) == m and the output needs no further dedup.
    agg = allp.groupBy("id_a", "id_b", "ng_a", "ng_b").agg(
        F.expr("count(1) AS m"), F.expr("max(chain) AS chain"),
        F.expr("max(scr) AS scr"),
    )
    if screen is not None:
        agg = agg.where(
            "chain OR NOT scr OR CAST(m AS DOUBLE) * CAST(ng_a + ng_b AS DOUBLE)"
            f" >= CAST({float(screen)!r} AS DOUBLE) * ({int(num_hashes)} + "
            "CAST(m AS DOUBLE)) * CAST(least(ng_a, ng_b) AS DOUBLE)"
        )
    return agg.select("id_a", "id_b")


def _containment_verify(
    cand: DataFrame, edoc: DataFrame, threshold: float
) -> DataFrame:
    """Exact containment scoring of candidate pairs against the
    per-doc eligible gram arrays — shared by every candidate mode,
    so precision is exact regardless of the generator. The n_common
    output column shares the score's unconditional array_intersect
    subtree, which codegen CSE dedups within the projection."""
    cont = _bound_common_sql("CAST(i AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)")
    return (
        _verify_join(cand, edoc)
        .selectExpr(
            "id_a",
            "id_b",
            "CAST(size(array_intersect(g_a, g_b)) AS BIGINT) AS n_common",
            f"{cont} AS containment",
        )
        .where(f"containment >= CAST({threshold!r} AS DOUBLE)")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
    dim: int = 64,
    planes: int = 6,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-then-prune semantic
    near-duplicate flags over an embedding column.

    The paper's recipe — k-means cluster the embeddings, then inside
    each cluster keep ONE representative among the vectors that sit
    close to the cluster centroid — rephrased with a deterministic
    default clusterer: random-hyperplane LSH buckets (md5-derived
    literal weights, engine-reproducible; pass ``assignments`` =
    (id, bucket) to use a trained quantizer instead, e.g. the IVF
    KMeans cells from operators/knn.build_ivf_index, which is the
    paper-faithful production path).

    Per bucket: centroid = elementwise mean; each member scores
    cosine(member, centroid); members with rounded cosine >=
    ``threshold`` form the semantic core and all but the best of
    them (highest cosine, then smallest id) are flagged duplicates.
    Ranking uses the ROUNDED cosine so the frontier is deterministic
    and cross-engine stable (same convention as ann_lsh_join).

    Shape at scale: everything is LONG-FORM — (id, bucket, dim, x)
    rows; centroids are a groupBy(bucket, dim) avg (map-side
    combined), the member-centroid dot products a co-partitioned
    (bucket, dim) join + groupBy(id). No pairwise anything: SemDeDup
    is O(n·dim), the whole point vs the O(n²) pair generators above.

    Output: (id, bucket, cos_centroid ROUNDED 6dp, is_semantic_dup).
    """
    from model_presto_spark.functions.vectors import as_double
    from model_presto_spark.operators.knn import _hyperplane_bucket_sql

    if assignments is None:
        base = df.select(
            F.col(id_col).alias("id"),
            as_double(F.col(vec_col)).alias("v"),
            F.expr(_hyperplane_bucket_sql(vec_col, dim, planes)).alias(
                "bucket"
            ),
        )
    else:
        base = df.join(assignments, id_col).select(
            F.col(id_col).alias("id"),
            as_double(F.col(vec_col)).alias("v"),
            "bucket",
        )
    long = base.select("id", "bucket", F.posexplode("v").alias("d", "x"))
    long = long.persist(StorageLevel.MEMORY_AND_DISK)
    cent = long.groupBy("bucket", "d").agg(F.avg("x").alias("c"))
    cent = cent.persist(StorageLevel.MEMORY_AND_DISK)
    cnorm = cent.groupBy("bucket").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc")
    )
    per_vec = (
        long.join(cent, ["bucket", "d"])  # co-partitioned on (bucket, d)
        .groupBy("id", "bucket")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nx"),
        )
    )
    scored = per_vec.join(cnorm, "bucket").select(
        "id",
        "bucket",
        F.round(
            F.col("dot") / (F.col("nx") * F.col("nc")) + F.lit(5e-12), 6
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("cos_centroid"), F.col("id")
    )
    return scored.withColumn("__rk", F.row_number().over(w)).select(
        F.col("id").alias(id_col),
        "bucket",
        "cos_centroid",
        (
            (F.col("cos_centroid") >= threshold) & (F.col("__rk") > 1)
        ).alias("is_semantic_dup"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast_hash: bool = False,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken
    2003 — the MOSS algorithm): from the k-token window hashes, keep
    per sliding window of ``w`` consecutive positions the MINIMAL
    hash, rightmost on ties. Guarantee: any shared substring of at
    least ``w + k - 1`` tokens contributes at least one shared
    fingerprint, while storing ~2/(w+1) of all window hashes — the
    density/robustness tradeoff span_dup_stats (which keeps every
    window) does not have.

    Implementation: each hash position p joins the window starts s
    it participates in (an explode of at most ``w`` starts — n·w
    rows per doc, all partitioned by doc id), the per-(doc, s)
    argmin/rightmost pick is one max_by over an orderable struct,
    and selected positions dedup with a distinct. No cross-document
    work at all; matching happens downstream on the (8-byte hash,
    id) relation like every other dedup family.

    Output: (id, pos, whash) — the selected fingerprints.
    """
    wh = window_hashes(docs, k, text_col, id_col, fast_hash).where(
        F.col("whash").isNotNull()
    )
    # ONE shuffle by doc id: the doc length and the per-start sliding
    # min both come from windows over the same partitioning. This
    # replaces the previous start-set explode + (id, start) groupBy,
    # which shuffled w rows per hash position (w x the corpus).
    # Positions i are dense consecutive ints per doc (window_hashes
    # emits 1..n-k+1), so the w-ROW frame IS the w-position window.
    dwin = Window.partitionBy(id_col)
    slide = Window.partitionBy(id_col).orderBy("i").rowsBetween(0, w - 1)
    # min struct = minimal hash; tie -> smallest -i = RIGHTMOST i
    pick = F.min(
        F.struct(F.col("whash").alias("h"), (-F.col("i")).alias("negi"))
    ).over(slide)
    # valid window starts: 1 .. n_starts - w + 1, clamped to 1 so a
    # doc with fewer than w hash positions still yields ONE
    # fingerprint (its global min — the frame covers the whole doc)
    starts = wh.select(
        id_col,
        "i",
        pick.alias("pk"),
        F.max("i").over(dwin).alias("n_starts"),
    ).where(
        F.col("i") <= F.greatest(F.col("n_starts") - F.lit(w - 1), F.lit(1))
    )
    return starts.select(
        id_col,
        (-F.col("pk.negi")).alias("pos"),
        F.col("pk.h").alias("whash"),
    ).distinct()


def winnow_shared_stats(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast_hash: bool = False,
) -> DataFrame:
    """Per-document winnowing statistics: how many fingerprints were
    selected and how many of them also occur in another document —
    the MOSS similarity signal. Same two-aggregation shape as
    span_dup_stats, but over the ~2/(w+1)-density selected set.

    Output: (id, n_fp, shared_fp, shared_fraction) for every doc.
    """
    fp = winnow_fingerprints(docs, k, w, text_col, id_col, fast_hash)
    per_doc = fp.groupBy(id_col, "whash").agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    glob = per_doc.groupBy("whash").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    stats = (
        per_doc.join(glob, "whash")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_fp"),
            F.sum(
                F.when(F.col("n_docs") > 1, F.col("cnt")).otherwise(0)
            ).alias("shared_fp"),
        )
    )
    out = docs.select(id_col).join(stats, id_col, "left")
    nf = F.coalesce(F.col("n_fp"), F.lit(0)).cast("bigint")
    sf = F.coalesce(F.col("shared_fp"), F.lit(0)).cast("bigint")
    return out.select(
        id_col,
        nf.alias("n_fp"),
        sf.alias("shared_fp"),
        F.when(nf > 0, sf.cast("double") / nf.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("shared_fraction"),
    )


def source_overlap(
    df: DataFrame,
    source_col: str,
    text_col: str,
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Pairwise content overlap between sources: for every source
    pair (a < b), the count of shared normalized-text fingerprints
    and the fingerprint-set Jaccard.

    ``prefix_tokens`` fingerprints only the first N whitespace tokens
    (a "lead shingle") instead of the full body — the standard cheap
    proxy for near-duplicate leads across crawls, where full-body
    equality is too strict to surface leakage.

    Scale shape: documents reduce to distinct (source, 60-bit
    fingerprint) rows immediately — bodies never shuffle. The pair
    generation is an equi-join on the fingerprint (not a source
    cross-product), so cost is proportional to actual overlap, and
    per-source set sizes come from one grouped countDistinct.
    Mirrors the reference's cross-dataset leakage audit semantics
    (presto-tolbi/presto/dataops/dataset.py idempotence keys).

    Returns (source_a, source_b, n_shared, n_a, n_b, jaccard).
    """
    key = text_col
    if prefix_tokens is not None:
        key = f"concat_ws(' ', slice({tokens_sql(text_col)}, 1, {prefix_tokens}))"
    # materialize: fp is referenced three times (both pair-join sides
    # and the size aggregation) — an un-materialized plan re-runs the
    # body tokenize/fingerprint/distinct per reference
    fp = (
        df.selectExpr(f"{source_col} AS src", f"{fingerprint60_sql(key)} AS fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = fp.groupBy("src").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fp.alias("a")
    b = fp.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(F.broadcast(sizes.withColumnRenamed("src", "source_a")
                                .withColumnRenamed("n_fp", "n_a")), "source_a")
        .join(F.broadcast(sizes.withColumnRenamed("src", "source_b")
                          .withColumnRenamed("n_fp", "n_b")), "source_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        )
    )
    return out.select("source_a", "source_b", "n_shared", "n_a", "n_b", "jaccard")


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    fast_hash: bool = False,
) -> DataFrame:
    """Prefix-filtered exact n-gram Jaccard self-join (the PPJoin
    family, Xiao et al. WWW'08 — lossless, unlike LSH).

    Order every doc's distinct gram hashes by GLOBAL document
    frequency (rarest first, (df, gram) ties broken on the hash);
    the prefix-filter lemma guarantees two docs with Jaccard >= t
    share their MINIMAL common gram inside both prefixes, so the
    candidate join touches prefix postings only — and because
    prefixes hold each doc's RAREST grams, the inverted index has no
    hot buckets: the rare-first ordering is the skew guard itself
    (no ``max_doc_freq`` cutoff, so recall is exact — the guarantee
    the stop-gram cutoff path gives up). Candidates verify with
    exact Jaccard over the full gram sets.

    Implementation: delegates to ``ngram_jaccard_pairs`` with the
    prefix generator and the df cutoff disabled — that generator is
    the same lemma PLUS size-compatibility (t*n_a <= n_b) and
    positional suffix bounds pruned inside the join, and a
    round-robin brute-force parity test plus
    test_ppjoin_equals_full_inverted_index pin the losslessness.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b, sim >= t.
    """
    return ngram_jaccard_pairs(
        df,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        max_doc_freq=1 << 62,
        fast_hash=fast_hash,
        candidates="prefix",
    )
