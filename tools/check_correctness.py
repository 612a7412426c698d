"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, comparing row count, column-name set and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified with float rounding). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    """Fixed 6-DECIMAL float normalization (never significant digits).

    The previous `%.6g` kept 6 *significant* digits, so a cent-level
    divergence in any value >= 1e5 (e.g. 134279.99 vs 134279.98 — the
    exact class that shipped the rel_rolling_spend half-cent bug in r04)
    hashed equal locally while the driver correctly failed it. 6 decimal
    places match the repo's own output convention (every float column is
    rounded to <= 6dp before emission), so local green implies driver
    green for this gate."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 6):.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(norm_value(r[i]) for i in order) for r in rows
    )
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # The gate runs at a pinned small sf where the jaccard router's
    # auto-profile always lands on the exact route; pinning it here keeps
    # plan construction lazy (no eager pair-mass scan per ADVICE r05).
    # FORCE-assigned, not setdefault (r06 review): an inherited 'lsh'
    # would shrink the row set vs the exact twin and fail the gate as a
    # spurious engine divergence.
    import os

    os.environ["AUTONER_JACCARD_ROUTE"] = "exact"

    import duckdb

    import __spark_entry__ as entrymod
    from autoner_spark.session import get_spark

    spark = get_spark("correctness-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_rows = [tuple(r) for r in df.collect()]
            spark_cols = df.columns
            # several queries persist() internally (tracked); release between
            # queries so the 51-query session ends with an empty CacheManager
            from autoner_spark.caching import release_caches

            release_caches()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        # golden-twin oracles read parquet materialized from the sf0.01
        # gate inputs; against any other sf_dir they'd mismatch spuriously
        from autoner_spark.queries import GOLDEN_DIR, GOLDEN_SF_DIR

        import os.path as _osp

        if (f"read_parquet('{GOLDEN_DIR}" in oracles[name]
                and _osp.realpath(sf_dir) != _osp.realpath(GOLDEN_SF_DIR)):
            print(f"skip {name}: golden twin is sf0.01-pinned "
                  f"(rows-only here: {len(spark_rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        ok = True
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            ok = False
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            ok = False
        if ok:
            a = canon(spark_rows, spark_cols)
            b = canon(duck_rows, duck_cols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {diff}")
                ok = False
        if ok:
            print(f"ok   {name}: {len(spark_rows)} rows, values match")
        else:
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
