"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB
over the same parquet tables, then compares row count, column names,
and an order-insensitive, type-sensitive value multiset — the one
comparator in ``model_presto_spark/testing.py`` that pytest also uses.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py [sf_dir] --touched <git-range>

``--touched`` derives the query subset mechanically from a git range
(e.g. ``HEAD~3..`` or ``main..feature``): a query is re-gated if its
registering plans file changed, or if any changed engine module is
(transitively) referenced by that plans file. Over-approximates on
purpose — the cost of re-gating too much is time, the cost of too
little is a silent wrong answer.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# rows_to_multiset is re-exported: perfbench canonicalizes oracle rows with it
from model_presto_spark.testing import (  # noqa: E402,F401
    canon,
    compare_query,
    duckdb_con,
    rows_to_multiset,
)


def touched_queries(git_range: str, queries) -> set[str]:
    """Map a git range to the query names it can affect.

    Seed = changed ``model_presto_spark/**/*.py`` files; the AST
    import graph of the package (ImportFrom/Import nodes anywhere,
    including function-local imports) is reverse-closed over the
    seed, so any module that transitively imports a changed module is
    affected. A query is touched when its registering file
    (``spec.fn.__code__.co_filename``) is in the affected set.
    A changed ``__init__.py`` marks every module in its subtree
    (re-export surfaces can alias anything).
    """
    import ast
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        ["git", "diff", "--name-only", git_range],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    changed_rel = {
        ln.strip()
        for ln in out.splitlines()
        if ln.strip().startswith("model_presto_spark/")
        and ln.strip().endswith(".py")
    }
    if not changed_rel:
        return set()

    pkg_root = os.path.join(repo, "model_presto_spark")
    pkg_files = {}  # dotted module name -> abs path
    for root, _dirs, files in os.walk(pkg_root):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, repo)
            mod = rel[: -len(".py")].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            pkg_files[mod] = p
    path_to_mod = {p: m for m, p in pkg_files.items()}

    def resolve(file_mod: str, node) -> set[str]:
        """Dotted package modules a single import node can name."""
        hits = set()
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in pkg_files:
                    hits.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = file_mod.split(".")
                # level=1 from a module == its parent package
                base = ".".join(parts[: len(parts) - node.level])
                if node.module:
                    base = f"{base}.{node.module}" if base else node.module
            else:
                base = node.module or ""
            if base in pkg_files:
                hits.add(base)
            for a in node.names:
                if (
                    a.asname
                    and a.asname.startswith("_queries")
                    and file_mod.endswith("plans.queries")
                ):
                    # registration side-effect import (the queries.py
                    # aggregator's `import queries_X as _queries_X`
                    # convention) — NOT a code dependency of this
                    # module's own plans, so it must not make every
                    # plans-file change fan out to all 723 queries.
                    # Scoped to the aggregator file + naming
                    # convention: a genuine dependency imported
                    # `as _x` elsewhere stays in the reverse closure
                    # (the closure over-approximates on purpose).
                    continue
                sub = f"{base}.{a.name}" if base else a.name
                if sub in pkg_files:
                    hits.add(sub)
        return hits

    deps = {}  # module -> set of package modules it imports
    for mod, p in pkg_files.items():
        deps[mod] = set()
        try:
            with open(p, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
        except (OSError, SyntaxError):
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                deps[mod] |= resolve(mod, node)

    seed = set()
    for rel in changed_rel:
        mod = path_to_mod.get(os.path.join(repo, rel))
        if mod is None:
            continue
        if os.path.basename(rel) == "__init__.py":
            seed |= {m for m in pkg_files if m == mod or m.startswith(mod + ".")}
        else:
            seed.add(mod)

    affected = set(seed)
    while True:
        grew = {
            m
            for m, ds in deps.items()
            if m not in affected and ds & affected
        }
        if not grew:
            break
        affected |= grew
    affected_paths = {pkg_files[m] for m in affected}

    return {
        name
        for name, spec in queries.items()
        if os.path.abspath(spec.fn.__code__.co_filename) in affected_paths
    }


def main() -> int:
    argv = list(sys.argv[1:])
    git_range = None
    if "--touched" in argv:
        i = argv.index("--touched")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            print("--touched requires a git range argument", file=sys.stderr)
            return 2
        git_range = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    from model_presto_spark.plans.queries import QUERIES
    from model_presto_spark.session import get_spark

    if git_range is not None:
        only |= touched_queries(git_range, QUERIES)
        print(f"touched({git_range}): {len(only)} queries")
        if not only:
            print("\n0/0 passed (no touched queries)")
            return 0

    spark = get_spark("check-correctness")
    con = duckdb_con(sf_dir)

    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            problems = compare_query(spark, con, spec, sf_dir)
        except Exception as e:
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            kind = "rows-only" if spec.oracle is None else "rows match"
            print(f"ok    {name}: {kind} [{time.time()-t0:.1f}s]")

    n_run = sum(1 for name in QUERIES if not only or name in only)
    print(f"\n{n_run - len(failures)}/{n_run} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
