"""Count which branch each ``io.spread()`` call takes.

Wraps ``io.spread`` from outside, everywhere it is bound (the way
``perfbench.trace.LoadTableProbe`` wraps ``load_table``), then builds
queries or one ``CorpusPipeline.run()``. A call *keeps* when spread
returns its input unchanged (a narrow chain over a scan of at least
defaultParallelism files) and *spreads* when it repartitions.

Usage:
    python tools/spread_traffic.py SF_DIR [--wide] [query ...]
    python tools/spread_traffic.py --corpus

``--wide`` first copies SF_DIR into a temp dir as 2 x defaultParallelism
part files per table. No query names means all of them. ``--corpus``
builds the benchmark's corpus pipeline over its generated 5k-document
corpus in 4 x nproc part files. Prints one JSON object: the totals,
then per query with at least one call its ``[kept, spread]`` counts.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bind_spread(fn):
    """Point every module-level binding of the current ``io.spread``
    at ``fn`` (function-local imports read ``io.spread`` itself);
    returns the function it replaced."""
    import model_presto_spark.io as mio

    current = mio.spread
    for mod in list(sys.modules.values()):
        if getattr(mod, "spread", None) is current:
            mod.spread = fn
    return current


class SpreadProbe:
    """Wraps ``io.spread`` where it is bound and tallies its branches."""

    def __init__(self) -> None:
        self.kept = 0
        self.spread = 0

        def spread(df):
            out = orig(df)
            if out is df:
                self.kept += 1
            else:
                self.spread += 1
            return out

        orig = bind_spread(spread)


def corpus_counts(spark) -> dict:
    from model_presto_spark.io import load_table
    from model_presto_spark.pipeline import CorpusPipeline
    from perfbench import data
    from perfbench.workloads import CORPUS_DOCS, corpus_stages

    cdir = data.corpus_dir(CORPUS_DOCS, 4 * len(os.sched_getaffinity(0)), 0)
    probe = SpreadProbe()
    CorpusPipeline(corpus_stages(CORPUS_DOCS)).run(load_table(spark, cdir, "documents"))
    return {"kept": probe.kept, "spread": probe.spread}


def query_counts(spark, sf_dir: str, names: list[str]) -> dict:
    from model_presto_spark.plans.queries import QUERIES

    probe = SpreadProbe()
    per_query = {}
    for name in names or list(QUERIES):
        before = (probe.kept, probe.spread)
        QUERIES[name].fn(spark, sf_dir)
        calls = [probe.kept - before[0], probe.spread - before[1]]
        if any(calls):
            per_query[name] = calls
    return {"kept": probe.kept, "spread": probe.spread, "queries": per_query}


def main() -> None:
    from model_presto_spark.session import get_spark

    args = sys.argv[1:]
    if not args:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    spark = get_spark("spread-traffic")
    spark.sparkContext.setLogLevel("ERROR")
    if args == ["--corpus"]:
        print(json.dumps(corpus_counts(spark)))
        return
    sf_dir, names = args[0], [a for a in args[1:] if a != "--wide"]
    with tempfile.TemporaryDirectory() as tmp:
        if "--wide" in args:
            from model_presto_spark.testing import write_wide_catalog

            write_wide_catalog(sf_dir, tmp, 2 * spark.sparkContext.defaultParallelism)
            sf_dir = tmp
        print(json.dumps(query_counts(spark, sf_dir, names)))


if __name__ == "__main__":
    main()
