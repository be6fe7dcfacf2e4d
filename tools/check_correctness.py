"""Local stand-in for the driver's correctness gate: run every
`queries()` entry on Spark and its `oracle_sql()` twin on DuckDB over
the same parquet tables, compare row count + column names + column
TYPES (arrow-level, so DuckDB HUGEINT vs Spark BIGINT is a FAIL, as it
is for the driver's type-sensitive value hash — see VERDICT.md r1) +
exact values (rows order-insensitive, columns sorted by name).

Usage:
    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)


def canonical_type(t) -> str:
    """Collapse an arrow DataType to the equivalence class the driver's
    hash distinguishes. int8..int64 are one class (r1 evidence: only the
    128-bit HUGEINT mismatched); decimal with scale 0 and precision > 19
    is DuckDB HUGEINT territory and must NOT equal int64."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        # HUGEINT arrives as decimal128(38,0); flag any decimal distinctly
        # so decimal-vs-double and decimal-vs-int mismatches surface.
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canonical_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canonical_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{canonical_type(t.key_type)},{canonical_type(t.item_type)}>"
    return str(t)


def normalize(v):
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return normalize(float(v)) if v != v.to_integral_value() else str(int(v))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{normalize(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(tab, cols):
    """Order-insensitive canonical rows from an arrow table."""
    data = {c: tab.column(c).to_pylist() for c in cols}
    n = tab.num_rows
    order = sorted(cols)
    return sorted(tuple(normalize(data[c][i]) for c in order) for i in range(n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from ocr_service_spark.session import build_session

    spark = build_session("check_correctness", cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = queries()
    oracles = oracle_sql()
    names = args.names or list(qs)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            stab = sdf.toArrow()
            scols = list(stab.column_names)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({stab.num_rows} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            dtab = con.execute(oracles[name]).arrow()
            dcols = list(dtab.column_names)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        else:
            stypes = {c: canonical_type(stab.schema.field(c).type) for c in scols}
            dtypes = {c: canonical_type(dtab.schema.field(c).type) for c in dcols}
            tdiff = {c: (stypes[c], dtypes[c]) for c in scols if stypes[c] != dtypes[c]}
            if tdiff:
                print(f"FAIL {name}: TYPE mismatch (spark vs duck): {tdiff}")
                ok = False
            elif stab.num_rows != dtab.num_rows:
                print(f"FAIL {name}: rowcount spark={stab.num_rows} duck={dtab.num_rows}")
                ok = False
            else:
                cs, cd = canon(stab, scols), canon(dtab, dcols)
                if cs != cd:
                    diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                    print(f"FAIL {name}: value mismatch; first diffs:")
                    for a, b in diffs:
                        print(f"  spark={a}\n  duck ={b}")
                    ok = False
        if ok:
            print(f"OK   {name}: {stab.num_rows} rows ({time.time()-t0:.1f}s)")
        else:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    if failed:
        print("failed:", " ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
