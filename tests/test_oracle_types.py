"""Oracle output-type hygiene: the driver-contract twin columns.

The r05 driver gate recorded four hash-reds (rel_cube_orders,
rel_important_parts, rel_top_supplier, text_domain_mix) that no local run
could reproduce — rows and schema matched, values didn't, at every scale
factor, session config and raw-repr comparison available in the sandbox.
The correlating mechanism: those four twins — and ONLY those four across
the whole 122-oracle registry — emitted a DuckDB HUGEINT output column
(a bare ``sum(BIGINT)``; DuckDB widens integer sums to INT128). HUGEINT's
client-side rendering is fetch-path-dependent (the Python DB-API yields
``int`` while the Arrow export path yields a different physical type), so
a comparison harness this repo does not control can stringify the same
value differently and hash-mismatch while every sandbox path agrees.

The cure is structural, not per-query: no oracle may emit a HUGEINT
column — integer sums are cast back to BIGINT at the output projection
(HUGEINT *intermediates* are fine and sometimes required for overflow
headroom). This test DESCRIBEs every registered oracle and pins the full
allowed output-type set, which also enforces the repo's standing "never
output timestamps/binary" twin rule (CLAUDE.md).

DESCRIBE only binds the query (no execution), so this sweeps all 122
twins in seconds.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SF_DIR = "/root/testdata/sf0.001"

# every type an oracle output column is allowed to carry; anything new
# must be added deliberately (and must round-trip identically through
# both the DB-API and Arrow fetch paths)
ALLOWED_TYPES = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT",
                 "DOUBLE", "VARCHAR", "BOOLEAN"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield c
    c.close()


def test_no_oracle_outputs_hugeint_or_other_fetch_fragile_types(con):
    oracles = entrymod.oracle_sql()
    assert oracles, "registry is empty?"
    offenders = {}
    for name, sql in oracles.items():
        types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        bad = {c: t for c, t in types.items() if t not in ALLOWED_TYPES}
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle output columns with fetch-fragile types (cast integer "
        f"sums to BIGINT at the output projection): {offenders}"
    )


def test_every_query_function_is_registered_with_a_twin():
    """Each module-level ``q_*`` function in queries.py is one registry row,
    named ``q_<registered name>``, with a non-empty twin: a query the gate
    never sees cannot hide in the module."""
    import inspect

    from autoner_spark import queries as Q

    defined = {
        name: fn for name, fn in vars(Q).items()
        if name.startswith("q_") and inspect.isfunction(fn)
        and fn.__module__ == Q.__name__
    }
    registered = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert {f"q_{n}" for n in registered} == set(defined)
    for name, fn in registered.items():
        assert fn is defined[f"q_{name}"], name
        assert isinstance(oracles.get(name), str) and oracles[name].strip(), name
    assert set(oracles) == set(registered)
