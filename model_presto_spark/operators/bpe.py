"""Distributed BPE (byte-pair-encoding) merge training — the
tokenizer-training primitive of an LLM data pipeline, expressed
Spark-first.

The classic reduction: BPE statistics depend ONLY on the word
frequency table, not the corpus — so the corpus collapses once to
``(word, freq)`` (one shuffle over token types, heavy-tail small),
and every merge iteration runs on that compact relation:

1. explode adjacent symbol pairs (indexed ``transform`` over the
   symbol array — no Python),
2. weighted pair counts via groupBy (map-side combinable),
3. the argmax pair is a 1-row collect (CC-style scalar driver
   state; ties broken lexicographically so training is
   deterministic),
4. the merge applies everywhere as a Catalyst ``aggregate`` fold
   that rebuilds each symbol array with leftmost non-overlapping
   occurrences of (a, b) fused — and the word table is
   ``localCheckpoint``-ed per round to keep lineage flat.

``apply_bpe`` tokenizes arbitrary text with the learned merge list
in ranked order via Arrow-batched ``mapInPandas`` (tokenizer
application is per-doc CPU work — the standard place for a Python
stage; the merge table broadcasts inside the closure).

Reference anchor: token-counting surface of SURVEY §2 text analysis
(bpe_ish_token_count is the heuristic; this is the real trainer).
Algorithm is the public Sennrich et al. 2016 procedure.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T

_EOW = "</w>"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the whitespace tokenization — the only
    relation BPE training ever iterates on."""
    toks = docs.selectExpr(
        f"explode_outer({T.tokens_sql(text_col)}) AS w"
    ).where(F.col("w").isNotNull())
    return toks.groupBy("w").agg(F.count("*").alias("freq"))


def _merge_fold(syms, a: str, b: str):
    """Fuse leftmost non-overlapping (a, b) adjacencies in one fold:
    append each symbol unless it completes the pair with the fold's
    last output, in which case the last output is replaced by a+b —
    a freshly fused symbol can't be re-used as the left side, which
    is exactly BPE's non-overlapping scan."""
    fused = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(fused))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges; stops early when the best
    remaining pair drops under ``min_pair_count``. Deterministic:
    ties on count break lexicographically on (a, b)."""
    wf = word_freqs(docs, text_col)
    cur = wf.select(
        F.concat(
            F.split(F.col("w"), ""), F.array(F.lit(_EOW))
        ).alias("syms"),
        "freq",
    ).localCheckpoint(eager=True)
    # explode_outer: syms always holds >= 2 symbols (word chars +
    # end-of-word marker), so the pair array is never empty; a plain
    # explode's inferred size>0 pre-filter would run the pair
    # transform twice per word per merge round.
    pair_expr = F.explode_outer(
        F.expr(
            "transform(slice(syms, 1, size(syms) - 1), "
            "(s, i) -> struct(s AS a, element_at(syms, i + 2) AS b))"
        )
    ).alias("p")
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            cur.select("freq", pair_expr)
            # fully-merged single-symbol words yield a NULL pair under
            # explode_outer — drop them (column-ref filter, cheap)
            .filter(F.col("p").isNotNull())
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = cur.select(
            _merge_fold(F.col("syms"), a, b).alias("syms"), "freq"
        ).localCheckpoint(eager=True)
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return merges


def _bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        a, b = syms[best[1]], syms[best[1] + 1]
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def apply_bpe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """(id, tokens array<string>, n_tokens) — tokenize with the
    learned merges in ranked order. Arrow-batched mapInPandas with a
    per-executor word cache (corpora are heavy-tailed: the cache hit
    rate is the type/token ratio)."""
    ranks = {p: i for i, p in enumerate(merges)}

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in it:
            ids, toks_col, n_col = [], [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                for w in str(text).lower().split():
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = _bpe_word(w, ranks)
                    toks.extend(got)
                ids.append(_id)
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {id_col: ids, "tokens": toks_col, "n_tokens": n_col}
            )

    return df.select(id_col, text_col).mapInPandas(
        go, f"{id_col} bigint, tokens array<string>, n_tokens int"
    )
