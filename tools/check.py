"""Registry-wide correctness gate against the DuckDB oracle.

Runs every __spark_entry__.queries() entry at the given SF and compares to
oracle_sql() via DuckDB: row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).
tests/test_oracle_parity.py runs the same ``check_one`` over the whole
registry at sf0.001.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from spark_kafka_realm_time_data_pipeline_spark.session import get_spark


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()[:16]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _type_tag(v):
    """Collapse a cell value to a type tag.  bool before int (bool is an int
    subclass); everything else by class name."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return type(v).__name__


def declared_type_problems(ora_cols, decl_types):
    """Flag oracle output columns whose DuckDB *declared* type the driver's
    value renderer distinguishes from Spark's (HUGEINT/DECIMAL vs BIGINT).

    ``fetchall()`` converts HUGEINT to a lossless Python int and DECIMAL to
    Decimal, so the value hash below cannot see them — but the driver CAN,
    and fails the hash even when every cell is numerically identical.  This
    is exactly how r7 shipped two driver-fails (bpe_encode, compaction_plan:
    uncast SUM -> HUGEINT) that were green in this mirror.  Any uncast
    SUM()/window-SUM in an oracle is a latent driver fail: flag it at the
    declaration, before values are even compared."""
    for c, t in zip(ora_cols, decl_types):
        if "HUGEINT" in t or "DECIMAL" in t:
            yield f"oracle-decl[{c}]={t} (cast to BIGINT/DOUBLE)"


def type_parity_problems(rows, cols, ora_rows, ora_cols):
    """Per-column output-type comparison between the Spark and oracle result
    sets.  The driver's value hash preserves the int/float distinction
    (Spark BIGINT renders '3' where DuckDB DOUBLE/HUGEINT renders '3.0'),
    which _norm's %.10g float normalization masks — so a query can pass this
    mirror's hash yet fail the driver's.  This check closes that gap: the
    set of non-null Python types in each column must match exactly."""
    def col_tags(rws, cls):
        tags = {c: set() for c in cls}
        for r in rws:
            for c, v in zip(cls, r):
                t = _type_tag(v)
                if t is not None:
                    tags[c].add(t)
        return tags

    st, ot = col_tags(rows, cols), col_tags(ora_rows, ora_cols)
    problems = []
    for c in sorted(set(st) & set(ot)):
        if st[c] != ot[c]:
            problems.append(
                f"type[{c}] {sorted(st[c]) or 'all-null'} vs {sorted(ot[c]) or 'all-null'}"
            )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = oracle_con(sf_dir)

    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            problems = check_one(fn(spark, sf_dir), con, oracles.get(name))
        except Exception:
            print(f"FAIL  {name}: ERROR")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({dt:.1f}s)")
            n_fail += 1
        elif name not in oracles:
            print(f"rows  {name} ({dt:.1f}s) [rows-only]")
            n_rows_only += 1
        else:
            print(f"pass  {name} ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


def oracle_con(sf_dir: str):
    """A DuckDB connection with one view per corpus table of ``sf_dir``."""
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_one(df, con, oracle: str | None) -> list[str]:
    """Collect a built query frame and compare it to its DuckDB oracle:
    declared oracle types, row count, column names, per-column value types,
    then the value hash.  Returns the problems found (empty = pass).  With
    no oracle the check is rows-only: the query must return a row.  Spark
    and oracle errors propagate to the caller."""
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    if oracle is None:
        return [] if rows else ["rows-only: 0 rows"]
    rel = con.sql(oracle)
    ora_cols = list(rel.columns)
    decl_types = [str(t).upper() for t in rel.types]
    ora_rows = rel.fetchall()
    problems = list(declared_type_problems(ora_cols, decl_types))
    if len(rows) != len(ora_rows):
        problems.append(f"rowcount {len(rows)} vs {len(ora_rows)}")
    if sorted(cols) != sorted(ora_cols):
        problems.append(f"schema {sorted(cols)} vs {sorted(ora_cols)}")
    if not problems:
        problems.extend(type_parity_problems(rows, cols, ora_rows, ora_cols))
    if not problems:
        hs, ho = value_hash(rows, cols), value_hash(ora_rows, ora_cols)
        if hs != ho:
            problems.append(f"hash {hs} vs {ho}")
    return problems


if __name__ == "__main__":
    raise SystemExit(main())
