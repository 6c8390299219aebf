"""Inputs of the benchmark workloads.

* ``CATALOG`` — the ten catalog tables the headline queries read
  (``model_presto_spark.io.TABLES``), one parquet file per table (the
  *narrow* layout). They are the repository's sf0.01 test tables,
  stored in ``perfbench/catalog/sf0.01`` so the benchmark reads nothing
  outside its checkout. Every run reads identical rows; a run's
  ``--seed`` only permutes query order.
* ``corpus_dir`` — a ``documents`` table of ``n_docs`` rows from
  ``tools/stress_bench.gen_documents(n, seed)`` (planted near-duplicate
  families, a hot first word), plus a hot source and planted exact
  copies, written as ``files`` part files (the *wide* layout). Cached
  under ``perfbench/.cache`` by (seed, size, files).

Corpus writes go to a temporary sibling directory that is renamed into
place, so an interrupted run never leaves a half-written cache behind.
"""

from __future__ import annotations

import os
import shutil
import sys
import uuid

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, "perfbench", ".cache")
CATALOG = os.path.join(REPO, "perfbench", "catalog", "sf0.01")


def _publish(final: str, write) -> str:
    """Run ``write(tmp_dir)`` and atomically rename tmp_dir to ``final``."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        write(tmp)
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final


def gen_corpus(n_docs: int, seed: int):
    """``stress_bench.gen_documents`` plus a hot source and exact copies.

    A third of the documents move to source ``src0`` (the hot source
    the per-source token budget truncates), and 1% become exact
    copies of the document two ids earlier (work for ``exact_dedup``).
    """
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from stress_bench import gen_documents

    df = gen_documents(n_docs, seed)
    rng = np.random.default_rng(seed + 1)
    hot = rng.random(n_docs) < 1 / 3
    df.loc[hot, "source"] = "src0"
    copies = rng.choice(np.arange(2, n_docs), n_docs // 100, replace=False)
    df.loc[copies, "text"] = df["text"].to_numpy()[copies - 2]
    df["n_chars"] = df["text"].str.len()
    return df


def planted_pairs(texts: list[str]) -> list[tuple[int, int]]:
    """Adjacent (i, i+1) pairs that gen_documents planted as near-dups.

    gen_documents makes doc s+1 a one-word edit of doc s and later
    prefixes every 20th doc with "spark"; a pair is planted when, with
    that prefix removed, both word lists have equal length and differ
    in at most one position (random documents never do).
    """
    def words(i: int) -> list[str]:
        w = texts[i].split()
        return w[1:] if i % 20 == 0 else w

    pairs = []
    for i in range(len(texts) - 1):
        a, b = words(i), words(i + 1)
        if a != b and len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1:
            pairs.append((i, i + 1))
    return pairs


def corpus_dir(n_docs: int, files: int, seed: int) -> str:
    """Directory whose ``documents.parquet`` is ``files`` part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(out: str) -> None:
        table = pa.Table.from_pandas(gen_corpus(n_docs, seed), preserve_index=False)
        parts = os.path.join(out, "documents.parquet")
        os.makedirs(parts)
        per = -(-n_docs // files)
        for k in range(files):
            pq.write_table(
                table.slice(k * per, per),
                os.path.join(parts, f"part-{k:05d}.parquet"),
            )

    final = os.path.join(CACHE, f"corpus-n{n_docs}-f{files}-s{seed}")
    return _publish(final, write)
