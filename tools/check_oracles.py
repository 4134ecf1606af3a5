"""Self-check: run every __spark_entry__ query against its DuckDB oracle
at sf0.01 (mirrors the driver's CORRECTNESS gate).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
Compares row count, column names, Arrow-level column TYPES (strict — a
DuckDB decimal128 vs Spark int64 mismatch is a FAIL here, exactly as it
is at the driver's typed hash; r4's `vertex_features` red row survived
two rounds because the old pandas-object stringification hid it), and
order-insensitive values. Every query's Spark output must also be
scalar: a nested column (list, map or struct) is a FAIL, rows-only
queries included — a typed row canonicalizer cannot hash nested values.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (
        df.sort_values(list(df.columns), kind="mergesort")
        .reset_index(drop=True)
    )


def canon_type(t: pa.DataType) -> str:
    """Canonical type label for strict cross-engine comparison.

    Numeric kinds and widths are NOT collapsed (int64 != decimal128 !=
    float64 != int32) — that distinction is the whole point. Only
    representation variants that carry identical value semantics are
    normalized: large_string/string, large_binary/binary, large_list/
    list, and timestamp timezone annotation (Spark's session-tz-stamped
    timestamps vs DuckDB's naive ones hash identically at the driver).
    """
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_dictionary(t):
        return canon_type(t.value_type)
    return str(t)


def type_mismatches(sa: pa.Schema, oa: pa.Schema) -> list[str]:
    """Strictly compare two Arrow schemas by column name (order-free)."""
    smap = {f.name: canon_type(f.type) for f in sa}
    omap = {f.name: canon_type(f.type) for f in oa}
    out = []
    for name in sorted(set(smap) | set(omap)):
        st, ot = smap.get(name), omap.get(name)
        if st != ot:
            out.append(f"{name}: spark={st} vs oracle={ot}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from montecarlopagerank_spark.session import get_spark

    spark = get_spark(app_name="check-oracles")
    con = duckdb.connect()
    # 32 threads makes DuckDB's unrolled-CTE oracles OOM on tiny (260KB)
    # block allocations on this host even with 100G free; 8-16 is stable
    con.execute("SET threads=8")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs, oracles = e.queries(), e.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            sat = sdf.toArrow()
            spdf = sat.to_pandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        nested = [f"{f.name}: {f.type}" for f in sat.schema
                  if pa.types.is_nested(f.type)]
        if nested:
            print(f"FAIL  {name}: nested output column {'; '.join(nested)}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (rows-only, no oracle)")
            continue
        try:
            oat = con.sql(oracles[name]).arrow()
            if isinstance(oat, pa.RecordBatchReader):
                oat = oat.read_all()
            odf = oat.to_pandas()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        tmm = type_mismatches(sat.schema, oat.schema)
        if tmm:
            print(f"FAIL  {name}: arrow types differ: {'; '.join(tmm)}")
            n_fail += 1
            continue
        a, b = canon(spdf), canon(odf)
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: cols {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(
                a, b, check_dtype=False, check_exact=True
            )
            print(f"OK    {name}: {len(a)} rows")
        except AssertionError as ex:
            print(f"FAIL  {name}: values differ: {str(ex)[:400]}")
            n_fail += 1
    spark.stop()
    print("FAILURES:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
