"""Mimic the driver's correctness gate: run each queries() entry in Spark and
its oracle_sql() twin in DuckDB at the given sf dir; compare row count, schema
width, and an order-insensitive value hash (sorted columns by name, rows
sorted, values stringified).

Usage: python tools/verify_oracle.py [sf_dir] [names...]
       DUCK_FETCH=native|df|arrow  — how oracle rows are materialized.

DUCK_FETCH matters because DuckDB's three client fetch paths type
aggregate results DIFFERENTLY: sum(BIGINT) is HUGEINT, which .fetchall()
returns as exact Python int, .df() as float64 (duckdb 1.0) or object-int
(later), and .arrow() as decimal128 — so a value-hash computed over a
HUGEINT column matches under one fetch path and diverges under another.
That exact skew produced the five repeat driver-red gates of rounds 3-4
(CORRECTNESS_r0{3,4}: hotspot_days_z5, q3, q5, textrank, doc_pack — the
only five probed queries whose oracles then had uncast HUGEINT outputs).
The repo rule is now: oracle output columns must be BIGINT/VARCHAR/BOOL/
DOUBLE — never HUGEINT or DECIMAL (tests/test_oracle_types.py enforces);
this harness runs under all three fetch paths to prove fetch-invariance.

DuckDB runs with a fixed 5 GB memory limit: its default of 80 % of RAM,
beside the Spark JVM, gets the sweep SIGKILLed on a 16 GB host at
``tile_render_png_phash_z10``, whose oracle peaks at about 4.5 GB.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DUCK_MEMORY_LIMIT = "5GB"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def fetch_rows(rel):
    """Materialize a DuckDB relation under the fetch path named by
    DUCK_FETCH — each is a real client path a driver harness might use,
    and they type HUGEINT/DECIMAL columns differently (module docstring)."""
    mode = os.environ.get("DUCK_FETCH", "native")
    if mode == "native":
        return rel.fetchall()
    if mode == "df":
        df = rel.df()
        return list(df.itertuples(index=False, name=None))
    if mode == "arrow":
        tbl = rel.arrow()
        cols = [c.to_pylist() for c in tbl.columns]
        return list(zip(*cols)) if cols else []
    raise SystemExit(f"unknown DUCK_FETCH={mode!r}")


def table_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), [cols[i] for i in order], h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import duckdb

    import __spark_entry__ as e
    from osmgraft.session import get_spark

    # no console progress bars: their \r lines would glue onto the verdicts
    spark = get_spark(
        "verify",
        cpus=int(os.environ.get("VERIFY_CPUS", "8")),
        **{"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect(config={"memory_limit": DUCK_MEMORY_LIMIT})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            s_n, s_cols, s_h = table_fingerprint(scols, srows)
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={s_n} (no oracle — rows-only check)")
            continue
        try:
            rel = con.sql(oracles[name])
            o_cols_raw = rel.columns
            orows = fetch_rows(rel)
            o_n, o_cols, o_h = table_fingerprint(o_cols_raw, orows)
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        status = "PASS" if (s_n, s_cols, s_h) == (o_n, o_cols, o_h) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: spark rows={s_n} duck rows={o_n} "
              f"cols {'==' if s_cols == o_cols else f'{s_cols} vs {o_cols}'} "
              f"hash {'==' if s_h == o_h else 'MISMATCH'} "
              f"spark={s_h[:16]} duck={o_h[:16]}")
        if status == "FAIL" and s_n and o_n:
            s_set = {tuple(norm_cell(v) for v in r) for r in srows[:100000]}
            o_set = {tuple(norm_cell(v) for v in r) for r in orows[:100000]}
            so = list(s_set - o_set)[:3]
            os_ = list(o_set - s_set)[:3]
            if so:
                print("  spark-only:", so)
            if os_:
                print("  duck-only: ", os_)
    print("failures:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
