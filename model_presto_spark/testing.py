"""The oracle comparator: Spark result vs DuckDB oracle, as row multisets.

One definition shared by ``tests/`` and ``tools/check_correctness.py``.
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb

from model_presto_spark.io import TABLES, table_path


def canon(v) -> str:
    """Type-sensitive canonical string for one cell.

    Values carry a type tag (bool, int, float, Decimal), as a hash of
    Arrow values does: a DuckDB decimal128 SUM and a Spark BIGINT of
    the same value are a mismatch.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        if v == int(v) and abs(v) < 1e15:
            return "f:" + str(int(v))
        return "f:" + repr(v)
    if isinstance(v, int):
        return "i:" + str(v)
    return str(v)


def rows_to_multiset(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the catalog; a table stored as a directory of
    part files is read through its ``*.parquet`` glob."""
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def write_wide_catalog(sf_dir: str, out_dir: str, n_files: int) -> None:
    """Copy every catalog table of ``sf_dir`` into ``out_dir`` as a
    directory of ``n_files`` parquet part files: the same rows in the
    same order and schema, in the many-file layout of a large table.
    Tables with fewer rows than ``n_files`` get empty parts."""
    import pyarrow.parquet as pq

    for t in TABLES:
        src = table_path(sf_dir, t)
        if not os.path.exists(src):
            continue
        table = pq.read_table(src)
        dst = table_path(out_dir, t)
        os.makedirs(dst, exist_ok=True)
        for i in range(n_files):
            lo = i * table.num_rows // n_files
            hi = (i + 1) * table.num_rows // n_files
            pq.write_table(
                table.slice(lo, hi - lo), os.path.join(dst, f"part-{i:05d}.parquet")
            )


def compare_query(spark, con, spec, sf_dir: str) -> list[str]:
    """Run one QuerySpec on both engines; return list of problems."""
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        return []  # rows-only check: ran without error
    ores = con.execute(spec.oracle).fetchall()
    ocols = [d[0] for d in con.description]
    problems = []
    if len(srows) != len(ores):
        problems.append(f"rowcount spark={len(srows)} oracle={len(ores)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    if not problems:
        sm = rows_to_multiset(scols, srows)
        om = rows_to_multiset(ocols, ores)
        if sm != om:
            diffs = [(a, b) for a, b in zip(sm, om) if a != b]
            problems.append(
                f"values differ ({len(diffs)} rows), first: {diffs[:3]}"
            )
    return problems
