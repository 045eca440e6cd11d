"""Local replica of the driver's DuckDB-oracle comparison: row count +
schema-insensitive, order-insensitive value comparison with columns
sorted by name. Used by test_oracle_parity.py and runnable standalone:

    python tests/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


def _dtype_kinds(spark_df, rel) -> tuple[bool, str]:
    """Driver hash is dtype-sensitive (a DuckDB sum over bigints is a
    HUGEINT): a DuckDB hugeint/decimal column hashes differently from a
    Spark bigint even when every value is equal.  Compare the pandas
    dtypes both results materialize to and flag any kind mismatch."""
    import pandas as pd  # noqa: F401

    s_pd = spark_df.limit(100).toPandas()
    d_pd = rel.limit(100).df()
    bad = []
    for c in sorted(s_pd.columns):
        sk = s_pd[c].dtype.kind
        dk = d_pd[c].dtype.kind
        # datetime64[us] vs [ns] is fine; int64 vs object/float64 is not
        if sk != dk:
            bad.append(f"{c}: spark={s_pd[c].dtype} duck={d_pd[c].dtype}")
    if bad:
        return False, "DTYPE " + "; ".join(bad)
    return True, ""


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = [c for c in rel.columns]
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count: spark={len(s_rows)} duck={len(d_rows)}"
    a = canon_rows(s_cols, s_rows)
    b = canon_rows(d_cols, d_rows)
    if a != b:
        diff_a = [r for r in a if r not in set(map(tuple, b))][:3]
        diff_b = [r for r in b if r not in set(map(tuple, a))][:3]
        return False, f"value mismatch; spark-only={diff_a} duck-only={diff_b}"
    ok, msg = _dtype_kinds(spark_df, con.sql(sql))
    if not ok:
        return False, msg
    return True, f"ok ({len(s_rows)} rows)"


def main():
    from pyobo_spark import queries as Q
    from pyobo_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(Q.QUERIES)
    spark = get_spark("parity", cores=8, shuffle_partitions=8)
    con = duck_con(sf_dir)
    failed = []
    for name in names:
        try:
            df = Q.QUERIES[name](spark, sf_dir)
            ok, msg = compare(df, con, Q.ORACLES[name])
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}", flush=True)
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed; failed: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
