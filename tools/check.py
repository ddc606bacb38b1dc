"""Local correctness gate — mimics the driver's DuckDB-oracle comparison.

For every entry in __spark_entry__.queries() with an oracle: run the Spark
query and the DuckDB SQL at the given scale factor, then compare row count,
sorted column names, and order-insensitive values. Exact string-normalized
comparison — stricter than any reasonable hash, so passing here should pass
the driver.

Usage: python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 12 significant digits: below double noise, above rounding we apply
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def complex_output_cols(schema) -> list[str]:
    """Columns whose type the driver's pandas canonicalizer cannot sort
    (numpy arrays / dicts are unhashable in pandas sort_values)."""
    from pyspark.sql import types as ST
    return [f.name for f in schema.fields
            if isinstance(f.dataType, (ST.ArrayType, ST.MapType,
                                       ST.StructType))]


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    # VANILLA session, deliberately: the driver harness builds its own
    # SparkSession with no engine confs, so the local gate must exercise
    # exactly that contract — any conf a query needs has to be applied at
    # runtime by the entry points themselves (catalog.load_tables).
    import os

    from pyspark.sql import SparkSession
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (SparkSession.builder.appName("check")
             .master(f"local[{cpus}]")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    passed = failed = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed += 1
            continue
        # The driver canonicalizes via toPandas().sort_values over every
        # column; Array/Map/Struct cells arrive as numpy arrays / dicts and
        # raise "unhashable type". Enforce the same constraint here so
        # local-pass actually predicts driver-pass (r7 VERDICT item #2).
        bad = complex_output_cols(sdf.schema)
        if bad:
            print(f"FAIL {name}: complex-typed output columns {bad} — the "
                  "driver's pandas canonicalizer cannot sort these; "
                  "stringify (F.array_join / to_json) before returning")
            failed += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            skipped += 1
            continue
        try:
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failed += 1
            continue
        err = None
        if sorted(scols) != sorted(ocols):
            err = f"columns {sorted(scols)} vs {sorted(ocols)}"
        elif len(srows) != len(orows):
            err = f"rowcount {len(srows)} vs {len(orows)}"
        else:
            a, b = canon(srows, scols), canon(orows, ocols)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                err = f"values differ, e.g. {diffs}"
        if err:
            print(f"FAIL {name}: {err}")
            failed += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
