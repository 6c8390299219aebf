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
  builds (screened minhash, containment ``lsh`` and ``lsh_ensemble``,
  ``image_dup_pairs``) and the vector searches (``ivf_knn_join``,
  ``ivf_index_search`` after ``build_ivf_index``,
  ``quantized_knn_join``, ``pq_knn_join`` with re-rank,
  ``ivfpq_search`` after ``build_ivfpq_index``; the indexes go to a
  temporary directory).

Plans are normalized so two runs of the same code compare equal:
expression ids, lambda-variable names, ``_common_expr_N`` aliases,
``plan_id`` tags and JVM object hashes are stripped. The session's
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


def _docs(spark):
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
    return spark.createDataFrame(rows, "doc_id long, text string")


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


def _builds(spark, tmp: str) -> dict:
    from model_presto_spark.multimodal.dedup import image_dup_pairs
    from model_presto_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_containment_pairs,
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
