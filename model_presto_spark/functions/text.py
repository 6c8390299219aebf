"""Text-analysis column functions for large-scale corpus pipelines.

Everything here is a pure Spark SQL *expression builder* — shingling,
MinHash, SimHash, token stats, language ID, fingerprints all compile
to Catalyst higher-order functions (transform/aggregate/sequence)
that run inside whole-stage codegen on the JVM. No Python UDFs: at
100 TB the per-row Python hop would dominate the job.

Hashing convention: 60-bit values derived from md5 (first 15 hex
chars), which is identical in every engine — chosen over xxhash /
murmur so DuckDB oracles can reproduce results bit-for-bit.

Each expression has ONE definition. The ``*_sql`` builders return SQL
text (arguments are SQL fragments: a column name or a nested builder
call) that Spark parses in one py4j round trip per projection; Column
callers wrap them as ``F.expr(builder("col"))``. The Column-API
builders cost one round trip per expression node.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small and deterministic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"),
    "es": ("el", "la", "de", "los", "las", "un", "una", "es", "por", "para"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "von", "mit", "für"),
}


def bigrams(ts: Column) -> Column:
    """Adjacent word-bigram array from a MATERIALIZED token array.

    ``ts`` must be an already-projected column (same inlining caveat
    as :func:`char_shingles_sql`): the per-position lambda indexes it
    twice per bigram.  Returns an empty array for <2 tokens.
    """
    idx = F.sequence(F.lit(1), F.size(ts) - 1)
    return F.when(
        F.size(ts) >= 2,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(ts, i), F.element_at(ts, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Mersenne prime 2^31-1: universal-hash modulus. With a, b < P,
# (h % P) * a + b < P^2 < 2^62, so the MinHash seed arithmetic never
# overflows ANSI bigint in any engine.
HASH_P = 2_147_483_647
_MASK64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """splitmix64's output mix of the integer ``x`` (64-bit result)."""
    z = (x + 0x9E3779B97F4A7C15) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """The MinHash seed family: seed j maps an element hash h to
    ``((h % P) * a_j + b_j) % P`` with ``1 <= a_j < P`` and
    ``0 <= b_j < P`` drawn from a splitmix64 mix of ``2j`` and
    ``2j + 1``. The one coefficient source of both engines
    (:func:`minhash_signature_sql` and the oracles' ``dd_minhash``).

    Seed j's coefficients do not depend on ``num_hashes``, so a
    shorter signature is a prefix of a longer one. Independent
    random coefficients matter: a family of small related multipliers
    keeps one element the minimum across neighbouring seeds, and an
    LSH band then holds far fewer than ``rows_per_band`` independent
    minima (Broder's estimator assumes independent permutations).
    """
    return [
        (1 + _splitmix64(2 * j) % (HASH_P - 1), _splitmix64(2 * j + 1) % HASH_P)
        for j in range(num_hashes)
    ]


def simhash60_from_hashes(hashes_sql: str) -> Column:
    """60-bit SimHash from pre-hashed tokens (see ``hash_array_sql``).

    Bit b of the result is 1 iff the sum over tokens of
    (bit b of h60(token)) * 2 - 1 is positive.

    Single pass over the hash array: the inner ``aggregate`` folds all
    60 bit-vote counters at once (``zip_with`` against the bit-index
    sequence), so the hash expression — which Catalyst may inline into
    the aggregate's input position — is still evaluated exactly once
    per row. Built as a SQL string because the shift amount is a
    lambda variable (pyspark's ``shiftright`` only takes int
    literals); still compiles to Catalyst higher-order functions —
    JVM-only, no UDF.
    """
    return F.expr(
        """aggregate(
              zip_with(
                aggregate({hs},
                  array_repeat(0, 60),
                  (acc, h) -> zip_with(acc, sequence(0, 59),
                    (c, b) -> c + CAST(((shiftright(h, b) & 1) * 2 - 1) AS INT))),
                sequence(0, 59),
                (c, b) -> CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
                          ELSE CAST(0 AS BIGINT) END),
              CAST(0 AS BIGINT), (acc, x) -> acc | x)""".format(hs=hashes_sql)
    )


# 2^60: one past the largest h60 value, so h60 / H60_MAX is in [0, 1).
H60_MAX = float(1 << 60)


def h60_sql(s: str, seed: int | None = None) -> str:
    """Deterministic 60-bit hash of a string expression (md5-based).

    Cross-engine reproducible: DuckDB equivalent is
    ``CAST(('0x' || substr(md5(s || '#' || seed), 1, 15)) AS BIGINT)``.
    """
    if seed is not None:
        s = f"concat({s}, '#', '{seed}')"
    return (
        f"CAST(conv(substring(md5(encode({s}, 'UTF-8')), 1, 15), 16, 10) "
        f"AS BIGINT)"
    )


def h60_fast_sql(s: str) -> str:
    """60-bit hash via native ``xxhash64`` — one codegen'd JVM call
    per element vs md5's hash + hex-substring + base-conv chain
    (~3-5x less CPU over a 100 TB shingle stream). NOT cross-engine
    reproducible: use ``h60_sql`` wherever a DuckDB oracle must replay
    the exact hashes. Masked to 60 bits so downstream modular
    arithmetic (minhash seeds, simhash bit folds) sees the same
    non-negative range as h60."""
    return f"(xxhash64({s}) & {(1 << 60) - 1})"


def tokens_sql(text: str) -> str:
    """Whitespace tokenization (lowercased), empty tokens removed."""
    return f"filter(split(lower({text}), '\\\\s+'), t -> t != '')"


def fingerprint60_sql(text: str, fast: bool = False) -> str:
    """Document fingerprint: 60-bit hash of the normalized text
    (lowercased, trimmed, whitespace runs collapsed to one space) —
    the exact-dedup and line-boilerplate key. ``fast=True`` hashes
    with xxhash64 (see ``h60_fast_sql``)."""
    norm = f"regexp_replace(trim(lower({text})), '\\\\s+', ' ')"
    return h60_fast_sql(norm) if fast else h60_sql(norm)


def char_shingles_sql(lowered: str, k: int = 5, distinct: bool = True) -> str:
    """Character k-gram shingle set.

    ``lowered`` MUST name a materialized (already-selected) lowercase
    column, not an inline ``lower(text)`` expression: the per-position
    lambda references it once per shingle, and Catalyst inlines
    single-use projected expressions into lambdas — an inline lower()
    would be recomputed O(len) times (O(len²) total). Referencing the
    column here twice (length + lambda) keeps the projection
    materialized.
    """
    sh = (
        f"transform(sequence(1, greatest(length({lowered}) - {k - 1}, 1)), "
        f"i -> substring({lowered}, i, {k}))"
    )
    return f"array_distinct({sh})" if distinct else sh


def word_ngrams_sql(toks: str, n: int = 3) -> str:
    """Distinct word n-grams (space-joined) from a materialized tokens
    column (same inlining caveat as :func:`char_shingles_sql`: pass an
    attribute, not an inline tokens expression). A document shorter
    than ``n`` tokens is one gram; a zero-token (or NULL) document has
    none: the start positions are cut to the token count, as the
    DuckDB oracles' ``list_distinct`` drops their one NULL gram. The
    ``greatest(.., 0)`` keeps a NULL array's size (-1 outside ANSI
    mode) a valid slice length."""
    return (
        f"array_distinct(transform("
        f"slice(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"1, greatest(size({toks}), 0)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))))"
    )


def hash_array_sql(strings: str, fast: bool = False) -> str:
    """One 60-bit hash per array element — the single expensive
    hashing pass; everything downstream derives from these integers.
    ``fast=True`` swaps md5 for native xxhash64 (see ``h60_fast``):
    same downstream algebra, no oracle reproducibility."""
    fn = h60_fast_sql if fast else h60_sql
    return f"transform({strings}, s -> {fn('s')})"


def minhash_signature_sql(hashes: str, num_hashes: int = 16) -> str:
    """MinHash signature from pre-hashed elements (see
    :func:`hash_array_sql`).

    Per-seed hashes are derived arithmetically — ``((h % P) * a_j +
    b_j) % P`` with the coefficients of :func:`minhash_coefficients` —
    instead of re-hashing every shingle per seed, so the md5 cost is
    O(|shingles|), not O(num_hashes · |shingles|). The signature is
    O(num_hashes) per document regardless of size, so the downstream
    LSH join shuffles only signatures, never documents.

    Single-pass fold: the hash array sits in ``aggregate``'s *input*
    position (evaluated once per row no matter how Catalyst collapses
    projections); the fold maintains all ``num_hashes`` running minima
    at once via ``zip_with`` against a literal coefficient array.
    """
    coeffs = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)"
        for a, b in minhash_coefficients(num_hashes)
    )
    return (
        f"aggregate({hashes}, "
        f"array_repeat(CAST({HASH_P} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, array({coeffs}), "
        f"(m, c) -> least(m, ((h % {HASH_P}) * c.a + c.b) % {HASH_P})))"
    )


def lsh_band_keys_sql(signature: str, bands: int, rows_per_band: int) -> str:
    """Array of (band, bucket) structs for LSH bucketing.

    Documents agreeing on any band land in the same bucket; the
    bucket join replaces the O(n²) pair comparison.
    """
    return (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b AS band, md5(encode(concat_ws(',', "
        f"transform(slice({signature}, b * {rows_per_band} + 1, "
        f"{rows_per_band}), x -> CAST(x AS STRING))), 'UTF-8')) AS bucket))"
    )


def _lit_array_sql(words: tuple[str, ...]) -> str:
    """Literal string array (Column.isin is unusable inside HOF lambdas)."""
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def lang_score_sql(toks: str, lang: str) -> str:
    """Stopword-hit count of one language (language-ID heuristic)."""
    arr = _lit_array_sql(LANG_STOPWORDS[lang])
    return f"size(filter({toks}, t -> array_contains({arr}, t)))"


def quality_features_sql(text: str, toks: str) -> dict[str, str]:
    """Quality-scoring features: length, word stats, ratios.

    ``toks`` must name a materialized tokens column (see the
    :func:`char_shingles_sql` inlining caveat) — it is referenced by
    several features and would otherwise be re-tokenized per feature.
    """
    n_tok = f"CAST(size({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({text}) AS DOUBLE)"
    alpha = (
        f"CAST(length(regexp_replace(lower({text}), '[^a-z]', '')) AS DOUBLE)"
    )
    punct = f"CAST(length(regexp_replace({text}, '[^.,;:!?]', '')) AS DOUBLE)"
    n_stop = f"CAST({lang_score_sql(toks, 'en')} AS DOUBLE)"
    guard = "CASE WHEN {c} > 0 THEN {v} ELSE 0.0D END"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "alpha_ratio": guard.format(c=n_chars, v=f"{alpha} / {n_chars}"),
        "punct_ratio": guard.format(c=n_chars, v=f"{punct} / {n_chars}"),
        "stopword_ratio": guard.format(c=n_tok, v=f"{n_stop} / {n_tok}"),
        "mean_word_len": guard.format(c=n_tok, v=f"{alpha} / {n_tok}"),
    }


def jaccard_sql(a: str, b: str) -> str:
    """Exact Jaccard similarity of two distinct-element arrays.

    The intersection size is bound ONCE as an ``aggregate`` input
    (single-element array -> lambda variable) instead of appearing as
    three textual copies inside the CASE/division tree: a naive
    ``CASE WHEN union > 0 THEN inter / union`` expands to three
    ``array_intersect`` subtrees, and when a caller filters on the
    result the pushed-down predicate duplicates all of them into the
    join condition — measured SIX intersect evaluations per verified
    pair in the q32 plan.  With the binding, each expression instance
    evaluates the intersect exactly once (plan shows 2: once in the
    pushed filter, once in the surviving-row projection).
    """
    sizes = f"CAST(size({a}) + size({b}) AS DOUBLE)"
    return (
        f"aggregate(array(CAST(size(array_intersect({a}, {b})) AS DOUBLE)), "
        f"0.0D, (acc, i) -> CASE WHEN {sizes} - i > 0 "
        f"THEN i / ({sizes} - i) ELSE 0.0D END)"
    )


def bpe_ish_token_count_sql(text: str) -> str:
    """BPE-ish token estimate: count of word/number/punct chunks.

    Splits words longer than 4 chars into ceil(len/4) subword units —
    a deterministic stand-in for a real tokenizer's piece count.
    """
    return (
        f"aggregate({tokens_sql(text)}, CAST(0 AS BIGINT), "
        f"(acc, t) -> acc + CAST(ceil(length(t) / 4.0D) AS BIGINT))"
    )


def word_ngrams_all(toks: Column, n: int = 2) -> Column:
    """ALL word n-grams (space-joined), duplicates kept — the
    multiset ``word_ngrams_sql`` is the distinct set of. Repetition
    signals need the multiset (same inlining caveat: pass a
    materialized tokens column)."""
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def duplicate_ngram_fraction(grams: Column) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier
    occurrence: ``1 - distinct/total`` over the n-gram multiset
    (Gopher-style repetition signal; Rae et al. 2021 use the dual
    "fraction of characters in duplicate n-grams"). 0 for empty
    inputs. Pass a materialized ``word_ngrams_all`` column."""
    total = F.size(grams).cast("double")
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total,
    ).otherwise(F.lit(0.0))


def top_ngram_fraction(grams: Column) -> Column:
    """Fraction of n-gram occurrences taken by the single most
    frequent n-gram (Gopher-style: a document whose top 2-gram covers
    >20% of all 2-grams is boilerplate/spam). Single-pass JVM
    expression: sort the multiset, then one fold tracking
    (previous gram, current run, best run) — no explode, no shuffle.
    """
    sorted_g = F.array_sort(grams)
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )
    folded = F.aggregate(
        sorted_g,
        acc0,
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("bigint")
                ),
            ).alias("best"),
        ),
    )
    total = F.size(grams).cast("double")
    return F.when(total > 0, folded["best"].cast("double") / total).otherwise(
        F.lit(0.0)
    )


# --- ingest cleaning (PII scrub / normalization) ---------------------------
# Standard pre-training text hygiene (C4/RefinedWeb-style): regex
# redaction of emails, phone numbers, IPs, and URLs, plus whitespace
# and control-char normalization. Pure regexp_replace expressions —
# JVM-side, codegen'd, no UDFs.

_PII_PATTERNS = (
    # order matters: emails and URLs first (they contain digit runs
    # and dots), then IPs (dot-separated digits would match the phone
    # pattern), phones last
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"(?<![\w.])\+?\d(?:[\s().-]*\d){6,13}(?!\d)", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact emails, URLs, IPv4 addresses, and phone numbers with
    typed placeholder tokens. Deliberately aggressive on digit runs
    (7-14 digits with separators read as phones) — pre-training
    hygiene favors recall over precision here."""
    out = text
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def normalize_text(text: Column) -> Column:
    """Ingest normalization: strip C0/C1 control chars (keep \\n\\t),
    collapse runs of spaces/tabs, trim."""
    no_ctl = F.regexp_replace(text, r"[\x00-\x08\x0b-\x1f\x7f-\x9f]", "")
    collapsed = F.regexp_replace(no_ctl, r"[ \t]+", " ")
    return F.trim(collapsed)


def charclass_counts(text: Column) -> dict[str, Column]:
    """Character-class census: uppercase / digit / punctuation /
    whitespace counts and ratios over the raw text.

    Mirrors the reference's quality heuristics (symbol-to-word and
    capital-ratio rules) as pure length-difference expressions — the
    count of class C is ``len(s) - len(regexp_replace(s, C, ''))``,
    entirely JVM-side, no UDF. ASCII classes only, so Java regex and
    RE2 (DuckDB oracle) agree byte-for-byte.
    """
    n_chars = F.length(text).cast("double")

    def _count(cls: str) -> Column:
        return (
            F.length(text) - F.length(F.regexp_replace(text, cls, ""))
        ).cast("bigint")

    n_upper = _count("[A-Z]")
    n_digit = _count("[0-9]")
    n_punct = _count("[.,;:!?]")
    n_space = _count("[ \\t\\n]")
    safe = F.when(n_chars > 0, n_chars).otherwise(F.lit(1.0))
    return {
        "n_chars": F.length(text).cast("bigint"),
        "n_upper": n_upper,
        "n_digit": n_digit,
        "n_punct": n_punct,
        "n_space": n_space,
        "upper_ratio": n_upper.cast("double") / safe,
        "digit_ratio": n_digit.cast("double") / safe,
        "punct_ratio": n_punct.cast("double") / safe,
        "space_ratio": n_space.cast("double") / safe,
    }


def readability_features_sql(text: str) -> dict[str, str]:
    """Flesch reading-ease via deterministic proxies: words =
    whitespace tokens, sentences = ``[.!?]+`` runs (min 1),
    syllables = ``[aeiouy]+`` vowel groups in the lowercased text.

    The syllable proxy is the standard cheap estimator (one vowel
    group ~ one syllable); scores are comparable across documents,
    which is what corpus-quality filtering needs. All counts are
    ``regexp_extract_all`` sizes — vectorized, no UDF.
    """
    n_words = f"CAST(size({tokens_sql(text)}) AS DOUBLE)"
    n_sents = (
        f"CAST(greatest(size(regexp_extract_all({text}, '[.!?]+', 0)), 1) "
        f"AS DOUBLE)"
    )
    n_syll = (
        f"CAST(size(regexp_extract_all(lower({text}), '[aeiouy]+', 0)) "
        f"AS DOUBLE)"
    )
    flesch = (
        f"CASE WHEN {n_words} > 0 THEN 206.835D - 1.015D * ({n_words} / "
        f"{n_sents}) - 84.6D * ({n_syll} / {n_words}) ELSE 0.0D END"
    )
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "n_sentences": f"CAST({n_sents} AS BIGINT)",
        "n_syllables": f"CAST({n_syll} AS BIGINT)",
        "flesch": flesch,
    }
