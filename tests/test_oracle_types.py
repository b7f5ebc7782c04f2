"""Oracle output-type lint: no fetch-path-fragile column types.

DuckDB types sum(BIGINT) as HUGEINT and exact big arithmetic as DECIMAL.
Those are fine inside a query, but as OUTPUT columns their client-side value
representation depends on the fetch path: .fetchall() → exact Python int,
.df() → float64 (duckdb 1.0) or object-int (later), .arrow() → decimal128.
A driver harness hashing stringified values therefore sees '350000005.0'
from one path and '350000005' from another — the exact mechanism behind the
five repeat driver-red gates of rounds 3-4 (CORRECTNESS_r03/r04:
hotspot_days_z5, q3_shipping_priority, q5_local_supplier_volume,
textrank_keywords, doc_pack_sequences — precisely the five probed queries
whose oracles then emitted uncast HUGEINT; root-caused round 5).

Rule enforced here: every oracle_sql() result column must be a plain
BIGINT/INTEGER/VARCHAR/BOOLEAN/DOUBLE/DATE/TIMESTAMP — never HUGEINT,
UHUGEINT, UBIGINT, or DECIMAL. Cast aggregates at the outermost SELECT.
DESCRIBE is metadata-only, so this lints all ~320 oracles in seconds.
"""

from __future__ import annotations

import os

import duckdb
import pytest

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMOKE", "/root/testdata/sf0.001")

# HUGEINT/DECIMAL: int vs float64 vs decimal128 per fetch path.
# []/LIST/STRUCT/MAP: Python list vs numpy array stringification per path
# (caught by the r5 DUCK_FETCH=df registry sweep on embedding_quantize_int8 /
# embedding_pq_codes) — serialize arrays to comma-joined VARCHAR at the gate.
FORBIDDEN = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL", "[]", "STRUCT", "MAP")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


def test_no_fetch_fragile_oracle_output_types(con):
    import __spark_entry__ as e

    offenders, errors = [], []
    for name, sql in e.oracle_sql().items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as ex:  # noqa: BLE001 — collect, report all at once
            errors.append((name, str(ex).splitlines()[0][:120]))
            continue
        bad = [(c, t) for c, t, *_ in desc if any(f in t for f in FORBIDDEN)]
        if bad:
            offenders.append((name, bad))
    assert not errors, f"oracles failed DESCRIBE: {errors}"
    assert not offenders, (
        "oracle output columns with fetch-path-fragile types "
        f"(cast to BIGINT at the outer SELECT): {offenders}"
    )


def test_raising_oracle_fails_its_own_gate_only(con):
    """A callable oracle that raises (e.g. the h3 polyfill tie assertion)
    must not take down oracle_sql() for every other gate."""
    import __spark_entry__ as e
    from osmgraft.queries import REGISTRY

    def broken() -> str:
        raise AssertionError("polyfill tie at 'cell 7'")

    REGISTRY["_broken_oracle"] = (lambda spark, sf_dir: None, broken)
    try:
        oracles = e.oracle_sql()
    finally:
        del REGISTRY["_broken_oracle"]
    others = {n for n, (_, o) in REGISTRY.items() if o is not None}
    assert others <= set(oracles)
    assert not [n for n in others if "oracle build failed" in oracles[n]]
    with pytest.raises(
        duckdb.InvalidInputException,
        match="oracle build failed: AssertionError: polyfill tie at 'cell 7'",
    ):
        con.sql(oracles["_broken_oracle"]).fetchall()
