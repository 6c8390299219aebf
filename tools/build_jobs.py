"""Count the Spark jobs a build starts, per engine call site.

Wraps ``DataFrame.count``, ``collect``, ``first`` and
``localCheckpoint`` from outside (the way ``tools/spread_traffic.py``
wraps ``io.spread``; no counter in the engine) and reads the
scheduler's job total around each outermost wrapped call, so the
jobs a call starts include the query-stage jobs adaptive execution
submits for it. A lazy ``localCheckpoint(eager=False)`` starts jobs
too: with adaptive execution, building its RDD runs every shuffle
stage of the plan, and only the final stage waits for the first
action. A call site is the innermost ``model_presto_spark``
frame that made the call; jobs started outside any wrapped call are
listed as ``(other)``.

Usage:
    python tools/build_jobs.py SF_DIR query [query ...]
    python tools/build_jobs.py --corpus
    python tools/build_jobs.py --chain N

Each target is built twice and the second build is reported, so
first-touch work (file listing, schema inference) stays out of the
counts. The session's cache is cleared between the two builds: a
relation the first build persisted would otherwise serve the second
from memory and hide the jobs that fill it. ``--corpus`` builds one
``CorpusPipeline.run()`` over the benchmark's generated 5k-document
corpus in 4 x nproc part files; ``--chain N`` runs ``connected_components`` on an N-edge path graph
with zero-padded string ids. Prints one JSON object per target: the
total and the jobs per call site.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
_ENGINE = os.path.join(ROOT, "model_presto_spark") + os.sep


class JobProbe:
    """Counts the jobs each outermost wrapped DataFrame action starts."""

    def __init__(self, spark) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        self.jobs_so_far = scheduler.numTotalJobs
        self.per_site: dict[str, int] = {}
        self.depth = 0
        probe = self

        def wrap(name, orig):
            def action(df, *a, **kw):
                if probe.depth:
                    return orig(df, *a, **kw)
                site = f"{_site()} {name}"
                eager = a[0] if a else kw.get("eager", True)
                if name == "localCheckpoint" and not eager:
                    site += "(eager=False)"
                n0 = probe.jobs_so_far()
                probe.depth += 1
                try:
                    return orig(df, *a, **kw)
                finally:
                    probe.depth -= 1
                    n = probe.jobs_so_far() - n0
                    probe.per_site[site] = probe.per_site.get(site, 0) + n

            return action

        for name in ("count", "collect", "first", "localCheckpoint"):
            setattr(DataFrame, name, wrap(name, getattr(DataFrame, name)))

    def measure(self, build) -> dict:
        """Jobs per call site started while ``build()`` runs."""
        self.per_site = {}
        n0 = self.jobs_so_far()
        build()
        total = self.jobs_so_far() - n0
        sites = {k: v for k, v in self.per_site.items() if v}
        other = total - sum(sites.values())
        if other:
            sites["(other)"] = other
        return {"jobs": total, "sites": sites}


def _site() -> str:
    for frame in reversed(traceback.extract_stack()[:-2]):
        if frame.filename.startswith(_ENGINE):
            return f"{os.path.relpath(frame.filename, ROOT)}:{frame.lineno}"
    return "(caller)"


def corpus_build(spark):
    from model_presto_spark.io import load_table
    from model_presto_spark.pipeline import CorpusPipeline
    from perfbench import data
    from perfbench.workloads import CORPUS_DOCS, corpus_stages

    cdir = data.corpus_dir(CORPUS_DOCS, 4 * len(os.sched_getaffinity(0)), 0)
    docs = load_table(spark, cdir, "documents")
    return lambda: CorpusPipeline(corpus_stages(CORPUS_DOCS)).run(docs)


def chain_build(spark, n_edges: int):
    from model_presto_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(f"{i:06d}", f"{i + 1:06d}") for i in range(n_edges)],
        "id_a string, id_b string",
    )
    return lambda: connected_components(pairs)


def main() -> None:
    from model_presto_spark.session import get_spark

    args = sys.argv[1:]
    if not args:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    spark = get_spark("build-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    probe = JobProbe(spark)
    if args[0] == "--corpus":
        targets = {"corpus run()": corpus_build(spark)}
    elif args[0] == "--chain":
        n_edges = int(args[1])
        targets = {f"{n_edges}-edge string-id chain": chain_build(spark, n_edges)}
    else:
        from model_presto_spark.plans.queries import QUERIES

        sf_dir = args[0]
        targets = {
            q: (lambda fn=QUERIES[q].fn: fn(spark, sf_dir)) for q in args[1:]
        }
    for name, build in targets.items():
        build()
        spark.catalog.clearCache()
        print(json.dumps({name: probe.measure(build)}))


if __name__ == "__main__":
    main()
