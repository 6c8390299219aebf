"""Count py4j round-trips + wall time of a query's BUILD phase.

The driver-side cost of a query is build (Python constructs the plan
via py4j calls) + analysis + execution. This tool isolates build: it
counts the py4j commands issued while ``spec.fn(spark, sf_dir)`` runs,
without executing the plan, with the benchmark's connection-layer
counter (``perfbench.trace.Py4jCounter``).

Usage:
    python tools/py4j_count.py q13_asof_join q49_asof_forward
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/py4j_count.py q13_asof_join

Prints one JSON line per query:
    {"query": ..., "py4j_round_trips": N, "build_sec": S}

Builds each query twice and reports the SECOND build (the first build
pays one-time costs: load_table memo misses, module imports), which is
what the bench's steady-state runs see.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from model_presto_spark.plans.queries import QUERIES  # noqa: E402
from model_presto_spark.session import get_spark  # noqa: E402
from perfbench.trace import Py4jCounter  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: py4j_count.py <query> [<query> ...]", file=sys.stderr)
        sys.exit(2)
    spark = get_spark("py4j-count")
    spark.sparkContext.setLogLevel("ERROR")
    counter = Py4jCounter()
    for name in names:
        spec = QUERIES.get(name)
        if spec is None:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        spec.fn(spark, SF_DIR)  # warm build: memo misses, imports
        # cyclic-GC passes send JVM-object deletes at arbitrary points:
        # flush them first and hold them off so the count is repeatable
        gc.collect()
        gc.disable()
        counter.n = 0
        t0 = time.perf_counter()
        spec.fn(spark, SF_DIR)
        dt = time.perf_counter() - t0
        gc.enable()
        print(
            json.dumps(
                {
                    "query": name,
                    "py4j_round_trips": counter.n,
                    "build_sec": round(dt, 4),
                }
            )
        )


if __name__ == "__main__":
    main()
