"""The benchmark's workloads: ``headline-cold`` and ``corpus``.

Load shape: one process, one closed-loop client. Each operation starts
only after the previous one returned; Spark runs as ``local[nproc]``
through the engine's own session (``session.get_spark``).

Every run has two phases:

1. Set-up, done ``SETUPS`` times (the session is stopped in between):
   build the session and warm its catalog. The first set-up also
   launches the JVM and is timed from process start.
2. The measured pass: every operation of the workload once, cold, with
   its output collected and checked. Warm passes follow only while
   ``seconds`` have not yet gone by since the pass began.

Both are measured in CPU seconds of the whole process tree as well as
wall time; the CPU figures are the ones gated, because the host's
stolen time moves wall time far more from run to run.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

from perfbench import data
from perfbench.trace import Tracer, reconcile, self_times

REPO = data.REPO
SETUPS = 3
SPAN_PARTS = ("build", "pipeline.run", "catalyst", "execute", "pipeline.report")

# Corpus size and the pipeline the corpus workload runs. quality_gate
# and lang_filter use q190's parameters, so q190's oracle restates the
# first four stages exactly.
CORPUS_DOCS = 5000
CORPUS_BUDGET_PER_DOC = 2.4  # per-source token budget = this x docs
RECALL_FLOOR = 0.6


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM and the Python workers it starts.

    Children that have ended count through their parent's ``cutime``.
    Time the host steals from the machine is not charged to any
    process, so on a busy host this moves far less than wall time.
    """
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended meanwhile
                continue
            stats[int(pid)] = (int(fields[1]), [int(x) for x in fields[11:15]])
    me = os.getpid()
    below = {me}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in below and pid not in below:
                below.add(pid)
                grew = True
    ticks = stats[me][1][0] + stats[me][1][1]
    ticks += sum(sum(stats[p][1]) for p in below if p != me)
    return ticks / os.sysconf("SC_CLK_TCK")


def corpus_stages(n_docs: int) -> list[dict]:
    return [
        {"op": "normalize"},
        {"op": "quality_gate", "min_tokens": 8, "min_alpha": 0.55},
        {"op": "lang_filter", "keep": ["en", "fr", "de"]},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "method": "minhash", "threshold": 0.8},
        {"op": "token_budget", "budget_tokens": int(CORPUS_BUDGET_PER_DOC * n_docs)},
    ]


class Run:
    """State of one benchmark run: the session, tracer and outcomes."""

    def __init__(self, trace: bool, seconds: float, process_t0: float) -> None:
        self.trace = trace
        self.seconds = seconds
        self.process_t0 = process_t0
        self.attempted = 0
        self.failures: list[str] = []
        self.load_probe = None
        if trace:
            from perfbench.trace import LoadTableProbe

            self.load_probe = LoadTableProbe()
        self.spark = None
        self.tracer: Tracer | None = None
        self.setup_s: list[float] = []
        self.setup_cpu_s: list[float] = []
        self.session_s: list[float] = []
        self.overhead_s = 0.0

    def setup(self, build, warm) -> None:
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = self.process_t0 if i == 0 else time.perf_counter()
            c0 = 0.0 if i == 0 else cpu_s()
            spark = build()
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            warm(spark)
            self.setup_s.append(time.perf_counter() - t0)
            self.setup_cpu_s.append(cpu_s() - c0)
            self.session_s.append(t1 - t0)
            self.spark = spark
        self.tracer = Tracer(self.spark, enabled=self.trace)
        self.tracer.enabled = False

    def setup_metrics(self) -> dict:
        """``setup_s`` is the median set-up in CPU seconds; the wall-time
        median is kept beside it."""
        return {
            "setup_s": statistics.median(self.setup_cpu_s),
            "setup_wall_s": statistics.median(self.setup_s),
        }

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")
        print(f"FAIL {op}: {why}", file=sys.stderr)

    def execute(self, df, op: int):
        """Plan ``df``, then collect its rows.

        ``collect`` runs the DataFrame's own QueryExecution, the one
        planned here, so its Catalyst phase timings and final-plan
        metrics stay readable.
        """
        tr = self.tracer
        qe = df._jdf.queryExecution()
        with tr.span("catalyst", op):
            qe.executedPlan()
        with tr.span("execute", op, jobs=True) as counts:
            rows = df.collect()
        return qe, counts, rows

    def measure(self, one_pass) -> dict:
        """Time the cold pass (wall and CPU), then run warm passes until
        ``seconds`` have gone by since it began (none when the cold pass
        alone took that long).

        Traced runs trace the cold pass. For the tracing overhead they
        then time a warm untraced and a warm traced pass; the spans of
        those two are dropped, so the layers describe the cold pass.
        """
        tr = self.tracer
        tr.enabled = self.trace
        t0, c0 = time.perf_counter(), cpu_s()
        with tr.span("workload"):
            with tr.span("pass"):
                one_pass()
        out = {"pass_s": time.perf_counter() - t0, "pass_cpu_s": cpu_s() - c0}
        tr.enabled = False
        warm = []
        while time.perf_counter() - t0 < self.seconds:
            t1 = time.perf_counter()
            one_pass()
            warm.append(time.perf_counter() - t1)
        if warm:
            out["warm_pass_s"] = statistics.median(warm)
        if self.trace:
            n_spans = len(tr.spans)
            t1 = time.perf_counter()
            one_pass()
            plain = time.perf_counter() - t1
            tr.enabled = True
            t1 = time.perf_counter()
            with tr.span("pass"):
                one_pass()
            self.overhead_s = time.perf_counter() - t1 - plain
            tr.enabled = False
            del tr.spans[n_spans:]
        return out


def _pctl(xs: list[float], q: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _layers(run: Run) -> dict:
    """Per-layer metrics: totals over the traced spans of the run."""
    spans = run.tracer.spans

    def total(name: str, key: str | None = None) -> float:
        out = 0.0
        for s in spans:
            if s["name"] == name:
                out += (s["end"] - s["start"]) if key is None else s["counts"].get(key, 0)
        return out

    bad, worst = reconcile(spans, SPAN_PARTS)
    selfs = self_times(spans)
    m = {
        "session.start_s": run.session_s[0],
        "plans.build_s": total("build"),
        "plans.py4j_calls": total("build", "py4j_calls"),
        "plans.build_jobs": total("build", "jobs"),
        "catalyst.analysis_ms": total("execute", "analysis_ms"),
        "catalyst.optimization_ms": total("execute", "optimization_ms"),
        "catalyst.planning_ms": total("execute", "planning_ms"),
        "catalyst.span_s": total("catalyst"),
        "exec.run_s": total("execute"),
        "exec.jobs": total("execute", "jobs"),
        "exec.stages": total("execute", "stages"),
        "exec.tasks": total("execute", "tasks"),
        "exec.shuffle_read_bytes": total("execute", "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total("execute", "shuffle_write_bytes"),
        "exec.spill_bytes": total("execute", "spill_bytes"),
        "exec.python_udf_s": total("execute", "python_udf_s"),
        "io.files_read": total("execute", "files_read"),
        "io.scan_bytes": total("execute", "scan_bytes"),
        "io.rr_exchanges": total("execute", "rr_exchanges"),
        "pipeline.run_s": total("pipeline.run"),
        "pipeline.run_jobs": total("pipeline.run", "jobs"),
        "pipeline.report_s": total("pipeline.report"),
        "pipeline.report_jobs": total("pipeline.report", "jobs"),
        "trace.overhead_s": run.overhead_s,
        "trace.unreconciled_ops": len(bad),
        "trace.max_shortfall": worst,
        "trace.op_self_s": selfs.get("op", 0.0),
        "trace.pass_self_s": selfs.get("pass", 0.0),
    }
    m.update(run.load_probe.metrics())
    return m


# ---------------------------------------------------------------------------
# headline
# ---------------------------------------------------------------------------


def _oracle_rows(sf_dir: str, specs: dict) -> dict[str, tuple[list, list]]:
    """Each query's oracle result on ``sf_dir`` as (columns, canonical
    rows), from DuckDB. The catalog is fixed, so results are cached by
    the oracle's SQL text and computed once per checkout."""
    import hashlib
    import json

    import duckdb
    from check_correctness import rows_to_multiset

    from model_presto_spark.io import TABLES, table_path

    path = os.path.join(data.CACHE, f"oracle-{os.path.basename(sf_dir)}.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out, con = {}, None
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        key = hashlib.sha256(spec.oracle.encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["sql"] != key:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{table_path(sf_dir, t)}')")
            rows = con.execute(spec.oracle).fetchall()
            cols = [d[0] for d in con.description]
            hit = cache[name] = {"sql": key, "cols": cols,
                                 "rows": rows_to_multiset(cols, rows)}
        out[name] = (hit["cols"], hit["rows"])
    if con is not None:
        con.close()
        os.makedirs(data.CACHE, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return out


def headline_cold(run: Run, seed: int) -> dict:
    """Every other bench.HEADLINE query (31 of 62), each once, in a fresh
    engine session. Half the list keeps a run short enough for the
    benchmark's run budget; every other entry keeps its mix of light
    relational and heavy dedup/geo/vector queries."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_correctness import rows_to_multiset

    import __spark_entry__
    from bench import HEADLINE
    from model_presto_spark.io import load_tables
    from model_presto_spark.plans.queries import QUERIES
    from model_presto_spark.session import get_spark

    sf_dir = data.CATALOG
    fns = __spark_entry__.queries()
    names = HEADLINE[::2]
    oracle = _oracle_rows(sf_dir, {n: QUERIES[n] for n in names})
    random.Random(seed).shuffle(names)

    def warm(spark):
        for df in load_tables(spark, sf_dir).values():
            df.count()

    run.setup(lambda: get_spark("perfbench-headline"), warm)
    spark = run.spark
    tr = run.tracer
    op_ids = iter(range(1, 1 << 30))
    walls: dict[str, float] = {}
    results: dict[str, tuple] = {}

    def one_pass() -> None:
        for name in names:
            op = next(op_ids)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("op", op):
                    with tr.span("build", op, jobs=True):
                        df = fns[name](spark, sf_dir)
                    qe, counts, rows = run.execute(df, op)
            except Exception as e:  # the benchmark must keep running
                run.fail(name, f"spark error: {e!r}"[:300])
                continue
            finally:
                wall = time.perf_counter() - t0
                spark.catalog.clearCache()
            walls.setdefault(name, wall)
            results.setdefault(name, (df.columns, rows))
            if tr.enabled:
                tr.plan_counts(qe, counts)
                tr.collect_jobs()

    passes = run.measure(one_pass)
    # The cold pass's rows against the DuckDB oracle, outside the timing.
    for name, (cols, rows) in results.items():
        if name not in oracle:
            continue
        ocols, orows = oracle[name]
        if sorted(cols) != sorted(ocols) or rows_to_multiset(
            cols, [tuple(r) for r in rows]
        ) != orows:
            run.fail(name, "rows differ from the DuckDB oracle")
    samples = [walls[n] for n in names if n in walls]
    result = {
        "e2e": {**run.setup_metrics(), **passes},
        "latency": {
            "query_p50_s": statistics.median(samples),
            "query_p90_s": _pctl(samples, 90),
            "samples": len(samples),
        },
        "sizes": {"queries": len(names), "catalog_dir": os.path.relpath(sf_dir, REPO)},
        "cold_query_walls_s": walls,
    }
    if run.trace:
        result["layers"] = _layers(run)
    return result


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _q190_stage_counts(corpus_dir: str) -> tuple[dict, set, dict]:
    """DuckDB restatement of q190's oracle CTEs on the corpus.

    Returns the stage counts it restates (input, normalize,
    lang_filter = quality gate + language filter, exact_dedup), the
    exact-dedup survivors' ids, and their source token totals.
    """
    import duckdb

    from model_presto_spark.plans import queries_ops4 as q4

    head, sep, _ = q4._Q190_ORACLE.partition("), toks AS (")
    if not sep:
        raise RuntimeError("q190 oracle no longer has its 'toks' CTE")
    glob = os.path.join(corpus_dir, "documents.parquet", "*.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
        n_in, n_gated, n_keep = con.execute(
            f"{head}) SELECT (SELECT count(*) FROM documents), "
            "(SELECT count(*) FROM gated), (SELECT count(*) FROM keep)"
        ).fetchone()
        keep = con.execute(f"{head}) SELECT doc_id, source, "
                           f"len({q4._Q190_TOKS.format(t='text')}) FROM keep").fetchall()
    finally:
        con.close()
    src_tokens: dict[str, int] = {}
    for _, src, n_tok in keep:
        src_tokens[src] = src_tokens.get(src, 0) + n_tok
    counts = {"input": n_in, "normalize": n_in, "lang_filter": n_gated,
              "exact_dedup": n_keep}
    return counts, {(d, s) for d, s, _ in keep}, src_tokens


def corpus(run: Run, seed: int) -> dict:
    """CorpusPipeline over a generated wide-layout documents corpus."""
    import pyarrow.parquet as pq

    from model_presto_spark.io import load_table
    from model_presto_spark.pipeline import CorpusPipeline
    from model_presto_spark.session import get_spark

    n_docs = CORPUS_DOCS
    files = 4 * len(os.sched_getaffinity(0))
    cdir = data.corpus_dir(n_docs, files, seed)
    parts = os.path.join(cdir, "documents.parquet")
    corpus_bytes = sum(
        os.path.getsize(os.path.join(parts, f)) for f in os.listdir(parts)
    )

    run.setup(
        lambda: get_spark("perfbench-corpus"),
        lambda spark: load_table(spark, cdir, "documents").count(),
    )
    docs = load_table(run.spark, cdir, "documents")
    stages = corpus_stages(n_docs)
    pipe = CorpusPipeline(stages)

    oracle, keep, src_tokens = _q190_stage_counts(cdir)
    op_ids = iter(range(1, 1 << 30))
    tr = run.tracer
    first_ids: set = set()

    def one_pass() -> None:
        """run(), then an action that collects the surviving doc ids."""
        op = next(op_ids)
        run.attempted += 1
        with tr.span("op", op):
            with tr.span("pipeline.run", op, jobs=True):
                clean = pipe.run(docs).select("doc_id")
            qe, counts, rows = run.execute(clean, op)
        if tr.enabled:
            tr.plan_counts(qe, counts)
            tr.collect_jobs()
        ids = {r[0] for r in rows}
        if not first_ids:
            first_ids.update(ids)
        elif ids != first_ids:
            run.fail("run", f"{len(ids)} ids, the first pass had {len(first_ids)}")

    passes = run.measure(one_pass)
    out_ids = first_ids
    # Every survivor must have passed the quality gate, language filter
    # and exact dedup as q190's DuckDB oracle restates them.
    keep_src = dict(keep)
    if not out_ids or not out_ids <= keep_src.keys():
        run.fail("run", f"{len(out_ids - keep_src.keys())} of {len(out_ids)} "
                 "survivors are not exact-dedup survivors in DuckDB")
    # Recall of the planted near-duplicates: pairs that reach near_dedup
    # (both survive exact dedup) in sources the token budget leaves
    # whole; a pair is found when near_dedup keeps at most one of them.
    budget = stages[-1]["budget_tokens"]
    whole = {s for s, n in src_tokens.items() if n <= budget}
    texts = pq.read_table(parts, columns=["text"]).column("text").to_pylist()
    eligible = [
        (a, b) for a, b in data.planted_pairs(texts)
        if keep_src.get(a) in whole and keep_src.get(b) in whole
    ]
    found = sum(1 for a, b in eligible if not (a in out_ids and b in out_ids))
    recall = found / len(eligible) if eligible else 0.0
    if not eligible or recall < RECALL_FLOOR:
        run.fail("near_dedup", f"recall {recall:.3f} on {len(eligible)} planted pairs")

    result = {
        "e2e": {**run.setup_metrics(), **passes},
        "latency": {},
        "sizes": {"docs": n_docs, "files": files, "bytes": corpus_bytes},
        "checks": {
            "survivors": len(out_ids),
            "oracle_stage_counts": oracle,
            "planted_pairs": len(eligible),
            "near_dup_recall": recall,
            "recall_floor": RECALL_FLOOR,
        },
    }
    if run.trace:
        # report() once, traced: it must match DuckDB on the stages
        # q190's oracle restates and end at run()'s row count.
        tr.enabled = True
        op = next(op_ids)
        run.attempted += 1
        t0 = time.perf_counter()
        with tr.span("op", op):
            with tr.span("pipeline.report", op, jobs=True):
                funnel = pipe.report(docs)
        result["latency"]["funnel_s"] = time.perf_counter() - t0
        tr.collect_jobs()
        tr.enabled = False
        got = dict(funnel)
        for stage, n in oracle.items():
            if got.get(stage) != n:
                run.fail(f"funnel.{stage}", f"{got.get(stage)} rows, DuckDB has {n}")
        if funnel[-1][1] != len(out_ids):
            run.fail("report", f"ends at {funnel[-1][1]}, run() had {len(out_ids)}")
        result["checks"]["funnel"] = funnel
        result["layers"] = _layers(run)
    return result


WORKLOADS = {"headline-cold": headline_cold, "corpus": corpus}
