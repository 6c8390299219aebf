"""Dump normalized optimized logical plans, and diff two dumps.

A refactor that must leave plans node-identical is checked by dumping
at both commits and diffing the files:

    python tools/plan_diff.py dump SF_DIR OUT [query ...]
    python tools/plan_diff.py diff A B

``dump`` builds every registered query (or the named ones) on the
tables in ``SF_DIR`` and writes one section per plan:

- ``query <name>``: the query's optimized logical plan;
- ``query <name> localCheckpoint <k>``: the k-th relation the build
  passed to ``DataFrame.localCheckpoint`` (wrapped from outside, as
  ``tools/build_jobs.py`` does), before it was cut from the lineage;
- ``build <name>`` and ``build <name> rows``: the builds no query
  runs, on fixed small inputs, with their sorted result rows, so a
  plan that moves can be shown to keep its rows: the dedup candidate
  builds (screened minhash, n-gram Jaccard ``prefix`` with the default
  stop-gram cutoff, containment ``index``, ``lsh`` and
  ``lsh_ensemble``, ``image_dup_pairs``) and the vector searches
  (``ivf_knn_join``, ``ivf_index_search`` after ``build_ivf_index``,
  ``quantized_knn_join``, ``pq_knn_join`` with re-rank,
  ``ivfpq_search`` after ``build_ivfpq_index``; the indexes go to a
  temporary directory), the streaming boilerplate core
  (``scrub_batch_against_ledger``'s scrubbed documents without a
  ledger and against a small fixed ledger, and its frequency deltas)
  on the pipeline corpus, one one-stage ``CorpusPipeline`` per op
  (``pipeline_<op>``, on a small fixed corpus) and the benchmark's
  ``corpus_stages`` pipeline (``corpus_stages``, on a 500-document
  corpus generated and written as the benchmark writes its own: 4 x
  nproc part files).

Plans are normalized so two runs of the same code compare equal:
expression ids, lambda-variable names, ``_common_expr_N`` aliases,
``plan_id`` tags, JVM object hashes and file-index paths (the
benchmark corpus lives in each checkout) are stripped. The session's
cache is cleared before each build. ``diff`` prints every section that
is missing from one file or differs between them, and exits 1 if any
does.

A few optimizer rules order their output by expression id, and ids
are allocated session-wide, so a query's plan can take another
(equivalent) shape when the builds before it allocate a different
number of ids: two full dumps of the same commit have differed on
q566_sparse_formats, and q187_psi_drift moves when an earlier query's
build changes. Dump such a query alone at both commits to compare it.
"""

from __future__ import annotations

import difflib
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_NORMALIZE = [
    (re.compile(r"\blambda [A-Za-z_]\w*#\d+L?"), "lambda _"),
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),
    (re.compile(r"(InMemoryFileIndex\(\d+ paths\))\[[^,]*,"), r"\1[...],"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def optimized(df) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


class CheckpointLog:
    """Records the optimized plan of every relation passed to
    ``DataFrame.localCheckpoint`` while installed."""

    def __init__(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        self.plans: list[str] = []
        orig = DataFrame.localCheckpoint
        log = self

        def local_checkpoint(df, *a, **kw):
            log.plans.append(optimized(df))
            return orig(df, *a, **kw)

        DataFrame.localCheckpoint = local_checkpoint


def _doc_rows() -> list[tuple[int, str]]:
    """Filler documents plus planted near-copies and contained slices."""
    words = [f"w{j}" for j in range(200)]
    rows = [
        (i, " ".join(f"t{(i * 13 + j * 7) % 97}" for j in range(20)))
        for i in range(40)
    ]
    rows += [
        (100, " ".join(words[:120])),
        (101, " ".join(words[:60] + ["x"] + words[61:120])),
        (102, " ".join(words[30:50])),
        (103, " ".join(words[70:110])),
    ]
    return rows


def _docs(spark):
    return spark.createDataFrame(_doc_rows(), "doc_id long, text string")


def _media(spark):
    """8x8 grayscale PGM images: distinct random ones plus near-copies."""
    import random

    from pyspark.sql import Row

    rng = random.Random(7)
    images = []
    for i in range(12):
        px = [rng.randrange(256) for _ in range(64)]
        if i % 3 == 1:  # the previous image with two pixels inverted
            px = list(images[-1])
            px[5], px[40] = 255 - px[5], 255 - px[40]
        images.append(px)
    return spark.createDataFrame([
        Row(media_id=i, kind="image", blob=b"P5 8 8 255\n" + bytes(px),
            meta={"height": 8, "width": 8, "channels": 1})
        for i, px in enumerate(images)
    ])


def _vectors(spark):
    """Seeded 16-d vectors around four centers."""
    import random

    rng = random.Random(7)
    centers = [[rng.uniform(-10, 10) for _ in range(16)] for _ in range(4)]
    rows = [
        (i, [x + rng.gauss(0, 1) for x in centers[i % 4]]) for i in range(80)
    ]
    return spark.createDataFrame(rows, "vid long, vec array<double>")


def _corpus(spark):
    """``_doc_rows`` plus what the other pipeline stages read: newline
    boilerplate on every third doc, PII, three languages, two sources
    and 8-d embeddings (every fifth one a near-copy of the one before);
    with a contamination benchmark and a DSIR target."""
    import random

    rng = random.Random(7)
    rows = []
    for i, (doc_id, text) in enumerate(_doc_rows()):
        if i % 3 == 0:
            text += "\nsubscribe to our newsletter"
        if i % 7 == 0:
            text = f"mail a.b{i}@example.com {text}"
        vec = [rng.uniform(-1, 1) for _ in range(8)]
        if i % 5 == 1:
            vec = [x + 0.01 for x in rows[-1][4]]
        rows.append((doc_id, text, ("en", "fr", "de")[i % 3],
                     ("web", "news")[i % 2], vec))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "embedding array<double>",
    )
    words = " ".join(f"w{j}" for j in range(60, 80))
    bench = spark.createDataFrame([(900, words)], "doc_id long, text string")
    target = spark.createDataFrame(
        [(901, " ".join(f"w{j}" for j in range(0, 200, 3)))],
        "doc_id long, text string",
    )
    return docs, bench, target


def _pipelines(spark) -> dict:
    from model_presto_spark.io import load_table
    from model_presto_spark.pipeline import CorpusPipeline
    from perfbench import data
    from perfbench.workloads import corpus_stages

    docs, bench, target = _corpus(spark)
    stages = {
        "normalize": {},
        "scrub_pii": {},
        "quality_gate": {"min_tokens": 15, "min_alpha": 0.3},
        "lang_filter": {"keep": ["en", "fr"]},
        "exact_dedup": {},
        "near_dedup": {"method": "minhash", "threshold": 0.5},
        "span_dedup_filter": {"max_dup_fraction": 0.8},
        "contamination_filter": {"benchmark": bench, "n": 5},
        "perplexity_gate": {"max_bits_per_token": 7.2},
        "span_remove": {},
        "token_budget": {"budget_tokens": 200},
        "domain_mix": {"budget_tokens": 300},
        "line_boilerplate": {"min_doc_freq": 3},
        "semantic_dedup": {"threshold": 0.9, "dim": 8, "planes": 4},
        "dsir_select": {"target": target, "k": 10},
        "gopher_gate": {"min_words": 10, "min_stop_hits": 0},
    }
    out = {
        f"pipeline_{op}": (
            lambda stage={"op": op, **cfg}: CorpusPipeline([stage]).run(docs)
        )
        for op, cfg in stages.items()
    }

    def corpus():
        n = 500
        cdir = data.corpus_dir(n, 4 * len(os.sched_getaffinity(0)), 0)
        return CorpusPipeline(corpus_stages(n)).run(
            load_table(spark, cdir, "documents")
        )

    out["corpus_stages"] = corpus
    return out


def _scrubs(spark) -> dict:
    from model_presto_spark.functions.text import fingerprint60_sql
    from model_presto_spark.streaming.boilerplate import (
        scrub_batch_against_ledger,
    )

    batch = _corpus(spark)[0].select("doc_id", "text")
    ledger = spark.createDataFrame(
        [("subscribe to our newsletter", 2), ("w0 w1 w2", 9)],
        "line string, doc_freq long",
    ).selectExpr(f"{fingerprint60_sql('line', fast=True)} AS lhash", "doc_freq")

    def scrub(ledger_df, part):
        return lambda: scrub_batch_against_ledger(
            batch, ledger_df, min_doc_freq=16
        )[part]

    return {
        "scrub_batch_against_ledger": scrub(None, 0),
        "scrub_batch_against_ledger_ledger": scrub(ledger, 0),
        "scrub_batch_against_ledger_deltas": scrub(None, 1),
    }


def _builds(spark, tmp: str) -> dict:
    from model_presto_spark.multimodal.dedup import image_dup_pairs
    from model_presto_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from model_presto_spark.operators.knn import (
        build_ivf_index,
        ivf_index_search,
        ivf_knn_join,
        quantized_knn_join,
    )
    from model_presto_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_search,
        pq_encode,
        pq_knn_join,
        train_pq_codebooks,
    )

    docs = _docs(spark)
    vecs = _vectors(spark)
    probes = vecs.where("vid < 8")
    cands = vecs.withColumnRenamed("vid", "cid")

    def ivf_search():
        build_ivf_index(cands, "cid", f"{tmp}/ivf", n_lists=4)
        return ivf_index_search(
            spark, f"{tmp}/ivf", probes, "vid", k=5, exclude_self=True
        )

    def pq_rerank():
        books = train_pq_codebooks(cands, "vec", m=4, n_codes=8)
        return pq_knn_join(
            probes, pq_encode(cands, "cid", "vec", books), "vid", "cid",
            books, k=5, candidates=cands, rerank=15, exclude_self=True,
        )

    def ivfpq():
        build_ivfpq_index(cands, "cid", f"{tmp}/ivfpq", n_lists=4, m=4,
                          n_codes=8)
        return ivfpq_search(
            spark, f"{tmp}/ivfpq", probes, "vid", k=5, exclude_self=True
        )

    return {
        "screened_minhash": lambda: minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, signature_screen=0.3
        ),
        "ngram_jaccard_prefix": lambda: ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="prefix"
        ),
        "containment_index": lambda: ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="index"
        ),
        "containment_lsh": lambda: ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="lsh"
        ),
        "containment_lsh_ensemble": lambda: ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="lsh_ensemble"
        ),
        "image_dup_pairs": lambda: image_dup_pairs(_media(spark)),
        "ivf_knn_join": lambda: ivf_knn_join(
            probes, cands, "vid", "cid", k=5, n_lists=4, exclude_self=True
        ),
        "ivf_index_search": ivf_search,
        "quantized_knn_join": lambda: quantized_knn_join(
            probes, cands, "vid", "cid", k=5, exclude_self=True
        ),
        "pq_knn_join_rerank": pq_rerank,
        "ivfpq_search": ivfpq,
        **_scrubs(spark),
        **_pipelines(spark),
    }


def dump(sf_dir: str, out: str, names: list[str]) -> None:
    from model_presto_spark.plans.queries import QUERIES
    from model_presto_spark.session import get_spark

    spark = get_spark("plan-diff")
    spark.sparkContext.setLogLevel("ERROR")
    log = CheckpointLog()

    def section(f, title: str, build, rows: bool = False) -> None:
        spark.catalog.clearCache()
        log.plans = []
        try:
            df = build()
            body = optimized(df)
        except Exception as exc:  # a build error is part of the record
            df, body = None, f"ERROR {type(exc).__name__}: {exc}"
        f.write(f"## {title}\n{body}\n")
        for k, plan in enumerate(log.plans):
            f.write(f"## {title} localCheckpoint {k}\n{plan}\n")
        if rows and df is not None:
            got = sorted(tuple(r) for r in df.collect())
            f.write(f"## {title} rows\n" + "\n".join(map(repr, got)) + "\n")

    with open(out, "w") as f, tempfile.TemporaryDirectory() as tmp:
        for name in names or list(QUERIES):
            section(f, f"query {name}",
                    lambda fn=QUERIES[name].fn: fn(spark, sf_dir))
        for name, build in _builds(spark, tmp).items():
            section(f, f"build {name}", build, rows=True)


def _sections(path: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    cur: list[str] = []
    with open(path) as f:
        for line in f:
            if line.startswith("## "):
                cur = out.setdefault(line[3:].rstrip("\n"), [])
            else:
                cur.append(line)
    return out


def diff(a: str, b: str) -> int:
    sa, sb = _sections(a), _sections(b)
    same = differ = 0
    for title in list(sa) + [t for t in sb if t not in sa]:
        if title not in sa or title not in sb:
            print(f"only in {a if title in sa else b}: {title}")
            differ += 1
        elif sa[title] != sb[title]:
            print(f"differs: {title}")
            sys.stdout.writelines(
                difflib.unified_diff(sa[title], sb[title], a, b, n=1)
            )
            differ += 1
        else:
            same += 1
    print(f"{same} sections identical, {differ} differ or are missing")
    return 1 if differ else 0


def main() -> None:
    args = sys.argv[1:]
    if len(args) >= 3 and args[0] == "dump":
        dump(args[1], args[2], args[3:])
    elif len(args) == 3 and args[0] == "diff":
        sys.exit(diff(args[1], args[2]))
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
